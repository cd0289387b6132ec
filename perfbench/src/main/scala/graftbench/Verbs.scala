package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GExpr, Sel, Tbl}
import graft.cats.Forcats
import graft.functions.Vec
import graft.reshape.Reshape

/** `verbs`: a seeded sequence of dplyr-style pipelines over a generated
  * star schema, one client, each result collected. The loop runs rounds of
  * all eight templates in a seeded order, so every run has the same mix;
  * template parameters are fixed, so their selectivity does not vary with
  * the seed. Every result is checked against the same question written in
  * plain Spark SQL over temp views.
  */
final class Verbs(spark: SparkSession, tr: Tracer, seed: Long,
                  sizes: Gen.StarSizes) extends Workload {
  val primaryKind = "verbs.query"
  private val Templates = 8
  private var tables: Map[String, DataFrame] = Map.empty
  // (op id, query key, columns, rows) of every timed pipeline
  private val results = mutable.ArrayBuffer.empty[(Int, String, Seq[String], Array[Row])]

  private final case class Query(key: String, build: () => Tbl, sql: String,
                                 ordered: Boolean)

  private def v[T](name: String)(body: => T): T = tr.span(name)(body)
  private def t(name: String): Tbl = Tbl(tables(name))

  private def query(template: Int): Query = {
    val key = s"t$template"
    template match {
      case 0 =>
        val d = "1997-06-30"
        Query(key, () => {
          val f = v("Tbl.filter")(t("sales").filter(col("ship_date") <= lit(d).cast("date")))
          val g = v("Tbl.groupBy")(f.groupBy("return_flag", "ship_mode"))
          v("Tbl.summarize")(g.summarize(
            "n" -> count(lit(1)), "qty" -> sum("quantity"),
            "rev" -> sum(col("price") * (lit(1) - col("discount"))),
            "avg_disc" -> avg("discount")))
        },
          s"""SELECT return_flag, ship_mode, count(1) AS n, sum(quantity) AS qty,
             |sum(price * (1 - discount)) AS rev, avg(discount) AS avg_disc
             |FROM sales WHERE ship_date <= DATE'$d'
             |GROUP BY return_flag, ship_mode""".stripMargin, ordered = false)
      case 1 =>
        val (m, k) = (50, 7)
        Query(key, () => {
          val f = v("Tbl.filter")(t("sales").filter(col("cust_id") % m === k))
          val g = v("Tbl.groupBy")(f.groupBy("cust_id"))
          val a = v("Tbl.arrange")(g.arrange(col("ship_date"), col("order_id"), col("line_no")))
          val mu = v("Tbl.mutate")(a.mutate(
            "cum_qty" -> Vec.cumsum(col("quantity")),
            "rn" -> Vec.rowNumber(),
            "dev" -> ((col("quantity") - avg(col("quantity"))): GExpr)))
          val top = v("Tbl.filter")(mu.filter(col("rn") <= 3))
          v("Tbl.select")(top.ungroup.select("cust_id", "order_id", "line_no",
            "cum_qty", "rn", "dev"))
        },
          s"""SELECT cust_id, order_id, line_no, cum_qty, rn, dev FROM (
             |SELECT cust_id, order_id, line_no,
             |sum(quantity) OVER (PARTITION BY cust_id ORDER BY ship_date, order_id, line_no
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_qty,
             |row_number() OVER (PARTITION BY cust_id ORDER BY ship_date, order_id, line_no) AS rn,
             |quantity - avg(quantity) OVER (PARTITION BY cust_id) AS dev
             |FROM sales WHERE cust_id % $m = $k) x WHERE rn <= 3""".stripMargin,
          ordered = false)
      case 2 =>
        val (q, seg) = (25, "BUILDING")
        Query(key, () => {
          val f = v("Tbl.filter")(t("sales").filter(col("quantity") >= q))
          val j1 = v("Tbl.innerJoin")(f.innerJoin(t("customer"), Seq("cust_id")))
          val j2 = v("Tbl.innerJoin")(j1.innerJoin(t("nation"), Seq("nation_id")))
          val s = v("Tbl.filter")(j2.filter(col("segment") === seg))
          v("Tbl.count")(s.count(Seq("n_name", "return_flag"), sort = true))
        },
          s"""SELECT n_name, return_flag, count(1) AS n
             |FROM sales JOIN customer USING (cust_id) JOIN nation USING (nation_id)
             |WHERE quantity >= $q AND segment = '$seg'
             |GROUP BY n_name, return_flag""".stripMargin, ordered = false)
      case 3 =>
        val d = "1994-09-27"
        Query(key, () => {
          val f = v("Tbl.filter")(t("sales").filter(col("ship_date") >= lit(d).cast("date")))
          val j = v("Tbl.innerJoin")(f.innerJoin(t("part"), Seq("part_id")))
          val g = v("Tbl.groupBy")(j.groupBy("brand", "ship_mode"))
          val s = v("Tbl.summarize")(g.summarize("qty" -> sum("quantity")))
          v("Reshape.pivotWider")(Reshape.pivotWider(s, Seq("ship_mode"), Seq("qty")))
        },
          Gen.ShipModes.map(mode =>
            s"max(CASE WHEN ship_mode = '$mode' THEN qty END) AS `$mode`")
            .mkString("SELECT brand, ", ", ",
              s""" FROM (SELECT brand, ship_mode, sum(quantity) AS qty
                 |FROM sales JOIN part USING (part_id) WHERE ship_date >= DATE'$d'
                 |GROUP BY brand, ship_mode) x GROUP BY brand""".stripMargin),
          ordered = false)
      case 4 =>
        val disc = 0.04
        Query(key, () => {
          val f = v("Tbl.filter")(t("sales").filter(col("discount") <= disc))
          val g = v("Tbl.groupBy")(f.groupBy("ship_mode"))
          val s = v("Tbl.summarize")(g.summarize((1 to 4).map(i =>
            s"q$i" -> sum(when(quarter(col("ship_date")) === i, col("quantity")))): _*))
          v("Reshape.pivotLonger")(Reshape.pivotLonger(s, Seq(Sel.startsWith("q")),
            Seq("quarter"), valuesTo = "qty"))
        },
          (1 to 4).map(i => s"SELECT ship_mode, 'q$i' AS quarter, q$i AS qty FROM w")
            .mkString(
              (1 to 4).map(i => s"sum(CASE WHEN quarter(ship_date) = $i THEN quantity END) AS q$i")
                .mkString("WITH w AS (SELECT ship_mode, ", ", ",
                  s" FROM sales WHERE discount <= $disc GROUP BY ship_mode) "),
              " UNION ALL ", ""),
          ordered = false)
      case 5 =>
        val (q, n) = (25, 5)
        Query(key, () => {
          val f = v("Tbl.filter")(t("sales").filter(col("quantity") <= q))
          val j = v("Tbl.innerJoin")(f.innerJoin(t("part"), Seq("part_id")))
          val l = v("Forcats.fctLump")(Tbl(Forcats.fctLump(j.df, "brand", n)))
          v("Tbl.count")(l.count(Seq("brand")))
        },
          s"""SELECT CASE WHEN f.rk <= $n THEN f.brand ELSE 'Other' END AS brand,
             |sum(f.cnt) AS n FROM (
             |  SELECT brand, cnt, row_number() OVER (ORDER BY cnt DESC, brand) AS rk
             |  FROM (SELECT p.brand, count(1) AS cnt FROM sales s JOIN part p
             |        ON s.part_id = p.part_id WHERE s.quantity <= $q GROUP BY p.brand) c) f
             |GROUP BY CASE WHEN f.rk <= $n THEN f.brand ELSE 'Other' END""".stripMargin,
          ordered = false)
      case 6 =>
        val (flag, q) = ("R", 20)
        Query(key, () => {
          val f = v("Tbl.filter")(t("sales").filter(col("return_flag") === flag &&
            col("quantity") >= q))
          val lv = v("Forcats.fctInfreq")(Forcats.fctInfreq(f.df, col("ship_mode")))
          val c = v("Tbl.count")(f.count(Seq("ship_mode")))
          val fc = v("Tbl.withFactor")(c.withFactor("ship_mode", lv))
          v("Tbl.arrange")(fc.arrange(col("ship_mode")))
        },
          s"""SELECT ship_mode, count(1) AS n FROM sales
             |WHERE return_flag = '$flag' AND quantity >= $q
             |GROUP BY ship_mode ORDER BY n DESC, ship_mode""".stripMargin,
          ordered = true)
      case 7 =>
        val (flag, q, k) = ("A", 30, 30)
        Query(key, () => {
          val f = v("Tbl.filter")(t("sales").filter(col("return_flag") === flag &&
            col("quantity") > q))
          val a = v("Tbl.arrange")(f.arrange(col("price").desc, col("order_id"), col("line_no")))
          val h = v("Tbl.head")(a.head(k))
          v("Tbl.select")(h.select("order_id", "line_no", "price", "quantity"))
        },
          s"""SELECT order_id, line_no, price, quantity FROM sales
             |WHERE return_flag = '$flag' AND quantity > $q
             |ORDER BY price DESC, order_id, line_no LIMIT $k""".stripMargin,
          ordered = true)
    }
  }

  private lazy val catalog: IndexedSeq[Query] = (0 until Templates).map(query)

  def inputSizes: Seq[(String, Long)] = Seq(
    "sales_rows" -> sizes.sales, "customer_rows" -> sizes.customers,
    "part_rows" -> sizes.parts,
    "pipeline_templates" -> Templates.toLong)

  private def tablesDigest(ts: Map[String, DataFrame]): Long =
    ts.toSeq.sortBy(_._1).map(x => Gen.digest(x._2)).foldLeft(17L)(_ * 31 + _)

  def build(dir: String): Long = {
    tables = Gen.star(spark, seed, sizes).map { case (k, df) => k -> df.cache() }
    tables.foreach { case (k, df) => df.createOrReplaceTempView(k) }
    tablesDigest(tables) // also fills the caches
  }

  def digestFor(other: Long): Long = tablesDigest(Gen.star(spark, other, sizes))

  private def run(q: Query): (Seq[String], Array[Row]) = {
    val out = tr.span("Tbl.build")(q.build())
    tr.span("Tbl.optimize")(out.df.queryExecution.executedPlan)
    val rows = tr.span("Tbl.exec")(out.df.collect())
    (out.df.columns.toSeq, rows)
  }

  def warmup(): Unit = catalog.foreach(run)

  /** One round: every template once, in an order seeded by (seed, round). */
  def step(round: Int): Seq[OpRec] =
    new scala.util.Random(seed * 7919L + round).shuffle(catalog.indices.toList).map { tp =>
      val q = catalog(tp)
      // in a traced run each template is traced in every other round
      Workload.timed(tr, primaryKind, 1L, Some((round + tp) % 2 == 0)) {
        val (cols, rows) = run(q)
        results += ((tr.currentOp, q.key, cols, rows))
        true
      }
    }

  def checks(): Seq[Check] = {
    val refs = mutable.HashMap.empty[String, (Seq[String], Array[Row])]
    results.toSeq.map { case (op, key, cols, rows) =>
      val q = catalog(key.drop(1).toInt)
      val (refCols, refRows) = refs.getOrElseUpdate(key,
        try {
          val df = spark.sql(q.sql)
          (df.columns.toSeq, df.collect())
        } catch {
          case e: Exception =>
            System.err.println(s"reference $key failed: $e")
            (Seq("reference failed"), Array.empty[Row])
        })
      val sameCols = cols.sorted == refCols.sorted
      // align the reference's columns to the pipeline's order
      val aligned = if (sameCols) refRows.map(r =>
        Row.fromSeq(cols.map(c => r.get(refCols.indexOf(c))))) else Array.empty[Row]
      val ok = sameCols && Workload.sameRows(rows.toSeq, aligned.toSeq, q.ordered)
      Check(s"pipeline $key matches SQL", ok,
        if (ok) "" else s"columns ${cols.mkString(",")} vs ${refCols.mkString(",")}; " +
          s"${rows.length} vs ${refRows.length} rows", op)
    }
  }

  def report(ops: Seq[OpRec], windowS: Double): Seq[(String, Double, String)] = {
    val lat = Workload.latency(ops, primaryKind)
    Seq(("query_p50_ms", Stats.median(lat), "ms"),
      ("query_p90_ms", Stats.quantile(lat, 0.9), "ms"),
      ("queries_per_s", ops.count(_.ok) / windowS, "1/s"),
      ("queries", ops.size.toDouble, "count"))
  }
}
