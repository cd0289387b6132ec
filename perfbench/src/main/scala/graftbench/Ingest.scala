package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ml.{Dedup, Sq}
import graft.ops.Scale
import graft.streaming.StreamVerbs
import graft.text.{Bpe, Classify}

/** `ingest`: seeded micro-batches delivered in ascending id order through
  * `StreamVerbs.lifecycleIngest` against persisted artifacts built from a
  * standing corpus. After each fresh batch the loop runs one read probe of
  * each kind against the same artifacts: minhash dedup, tokenizer encode
  * and SQ8 top-k. After the window of a traced run the last batch id is
  * delivered again, to check that a redelivery changes nothing. SQ8
  * appends are not in the write mix. One batch takes longer than a whole
  * window, so an untraced run measures the first batch of a fresh session.
  */
final class Ingest(spark: SparkSession, tr: Tracer, seed: Long, work: String)
    extends Workload {
  val primaryKind = "ingest.batch"
  private val Standing = 200
  private val BatchSize = 100
  private val NBench = 100
  private val ProbeDocs = 20
  private val Queries = 8
  private val TopK = 5
  private val WindowLen = 64
  private val BatchBudget = 2048L

  private val stream = new Gen.Stream(seed, Standing, BatchSize, NBench)
  private var dir: String = _
  private def gate = s"$dir/gate"
  private def decon = s"$dir/decontam"
  private def index = s"$dir/minhash"
  private def tok = s"$dir/tokenizer"
  private def sq = s"$dir/sq8"
  private def state = s"$dir/state"
  private var boundaries: DataFrame = _

  private final case class Delivery(op: Int, batch: Int, replay: Boolean,
                                    admitted: Set[Long], indexRowsBefore: Long,
                                    indexRowsAfter: Long, bytesWritten: Long,
                                    filesWritten: Long)
  private val deliveries = mutable.ArrayBuffer.empty[Delivery]
  private val probeChecks = mutable.ArrayBuffer.empty[Check]
  private var nextBatch = 0
  private var probeSeq = 0

  def inputSizes: Seq[(String, Long)] = Seq(
    "standing_documents" -> Standing.toLong, "batch_documents" -> BatchSize.toLong,
    "benchmark_documents" -> NBench.toLong,
    "probe_documents" -> ProbeDocs.toLong, "vector_queries" -> Queries.toLong,
    "embedding_dim" -> Gen.Dim.toLong)

  private def digestOf(s: Gen.Stream): Long = scala.util.hashing.MurmurHash3.seqHash(
    (s.standing ++ s.batch(0)).map(d => (d.id, d.text, d.source, d.embedding.toSeq)) ++
      s.bench).toLong

  def digestFor(other: Long): Long =
    digestOf(new Gen.Stream(other, Standing, BatchSize, NBench))

  private def docs(ds: Seq[Gen.Doc], slices: Int = 1): DataFrame =
    Gen.docsFrame(spark, ds, slices)

  def build(buildDir: String): Long = {
    dir = buildDir
    val standing = docs(stream.standing, spark.sparkContext.defaultParallelism).cache()
    val labeled = standing.withColumn("cls",
      when(col("lang") === "en", lit("pos")).otherwise(lit("neg")))
    Classify.buildNbModel(labeled.filter(col("doc_id") % 2 === 0), "cls", "text", gate)
    val calib = standing.filter(col("doc_id") % 2 === 1)
    val scored = Classify.scoreBinaryFromModel(spark, gate, calib, "doc_id", "text")
      .join(calib.select(col("doc_id"), (col("lang") === "en").as("truth")), Seq("doc_id"))
    Classify.saveGateThreshold(spark, gate, scored, "truth", 0.9)
    Dedup.buildDecontamIndex(spark,
      spark.createDataFrame(stream.bench).toDF("id", "text"), "text", decon, n = 13)
    Bpe.buildTokenizer(standing, "text", tok, nMerges = 4, sepToken = true)
    val ids = Bpe.encodeDocsFromTokenizer(spark, tok, standing, "doc_id", "text")
    boundaries = Scale.lengthGroupedBatches(ids, "doc_id", col("n_tokens"),
        nBuckets = 4, batchBudget = BatchBudget)
      .filter(col("bucket") >= 1)
      .groupBy("bucket").agg(min("len").as("boundary"))
      .localCheckpoint()
    Dedup.buildMinhashIndex(standing, "doc_id", "text", index, n = 3, bands = 16,
      rows = 2, seed = 42L, portable = true)
    Sq.buildSqIndex(standing.select(col("doc_id").as("vec_id"), col("embedding")), sq)
    standing.unpersist(true)
    digestOf(stream)
  }

  private def indexRows(): Long = spark.read.parquet(s"$index/sigs").count()

  private def ingest(statePath: String, indexPath: String, ds: Seq[Gen.Doc],
                     batchId: Long): Set[Long] = {
    val out = tr.span("StreamVerbs.lifecycleIngest")(StreamVerbs.lifecycleIngest(
      spark, statePath, docs(ds), "doc_id", "text", "source", gate, decon,
      indexPath, tok, WindowLen, boundaries, BatchBudget, maxContaminatedFrac = 0.5,
      dedupThreshold = 0.3, batchId = batchId))
    // a consumer reads every output of the batch
    tr.span("ingest.collect") {
      out.windows.select("window_id", "n_filled").collect()
      out.batches.collect()
      out.manifest.collect()
      out.admitted.select("doc_id").collect().map(_.getLong(0)).toSet
    }
  }

  private def probe(kind: Int, n: Int): Boolean = kind match {
    case 0 =>
      val ds = stream.probeDocs(n, ProbeDocs)
      val kept = tr.span("Dedup.dedupeAgainstIndex")(
        Dedup.dedupeAgainstIndex(spark, index, docs(ds), "doc_id", "text")
          .select("doc_id").collect().map(_.getLong(0)).toSet)
      kept == ds.filter(_.kind == "fresh").map(_.id).toSet
    case 1 =>
      val ds = stream.probeDocs(n, ProbeDocs)
      val rows = tr.span("Bpe.encodeDocsFromTokenizer")(
        Bpe.encodeDocsFromTokenizer(spark, tok, docs(ds), "doc_id", "text")
          .select("doc_id", "ids", "n_tokens").collect())
      val words = ds.map(d => d.id -> d.text.split("\\s+").length).toMap
      rows.length == ds.size && rows.forall { r =>
        val idsOk = !r.isNullAt(1) && !r.getSeq[Any](1).contains(null)
        idsOk && r.getLong(2) >= words(r.getLong(0))
      }
    case _ =>
      val qs = stream.queries(n, Queries)
      val qdf = spark.createDataFrame(qs.map { case (id, v, _) => (id, v.toSeq) })
        .toDF("vec_id", "embedding")
      val top = tr.span("Sq.sqTopKFromIndex")(
        Sq.sqTopKFromIndex(spark, sq, qdf, TopK).collect())
      val byQuery = top.groupBy(_.getAs[Long]("query_id"))
      qs.forall { case (id, _, nearest) =>
        byQuery.get(id).exists { rs =>
          rs.length == TopK && rs.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to TopK) &&
            rs.exists(r => r.getAs[Int]("rk") == 1 && r.getAs[Long]("item_id") == nearest)
        }
      }
  }

  /** Only a traced run warms up, so that its traced and untraced batches
    * compare: it ingests one batch into a copy of the index and runs one
    * probe of each kind.
    */
  def warmup(): Unit = if (tr.traceMode) {
    val warmIndex = s"$dir/warm_minhash"
    Disk.copyTree(index, warmIndex)
    ingest(s"$dir/warm_state", warmIndex, stream.batch(-1), 0L)
    (0 until 3).foreach(k => probe(k, -1 - k))
    Dedup.unpersistIntermediates()
    Disk.delete(warmIndex)
    Disk.delete(s"$dir/warm_state")
  }

  private def roots = Seq(state, index)

  private def deliver(k: Int, replay: Boolean, traced: Boolean): OpRec = {
    val ds = stream.batch(k)
    val rowsBefore = indexRows()
    val before = Disk.snapshot(roots)
    var admitted = Set.empty[Long]
    val kind = if (replay) "ingest.replay" else primaryKind
    val o = Workload.timed(tr, kind, if (replay) 0L else ds.size.toLong, Some(traced)) {
      admitted = ingest(state, index, ds, k.toLong)
      true
    }
    val (bytes, files) = Disk.written(before, Disk.snapshot(roots))
    deliveries += Delivery(o.id, k, replay, admitted, rowsBefore, indexRows(), bytes, files)
    o
  }

  /** A fresh batch and its probes. In a traced run every other step is
    * traced, all its ops together.
    */
  def step(i: Int): Seq[OpRec] = {
    Dedup.unpersistIntermediates()
    val traced = i % 2 == 0
    val b = deliver(nextBatch, replay = false, traced)
    nextBatch += 1
    val probes = (0 until 3).map { kind =>
      probeSeq += 1
      val n = probeSeq
      val o = Workload.timed(tr, "ingest.probe", 0L, Some(traced))(probe(kind, n))
      probeChecks += Check(s"probe kind $kind answers correctly", o.ok, "", o.id)
      o
    }
    b +: probes
  }

  /** In a traced run, redelivers the last batch id (traced). An untraced
    * run leaves the redelivery out: it costs as much as a fresh batch.
    */
  override def afterWindow(): Seq[OpRec] =
    if (!tr.traceMode) Nil
    else {
      Dedup.unpersistIntermediates()
      Seq(deliver(nextBatch - 1, replay = true, traced = true))
    }

  def checks(): Seq[Check] = {
    val byBatch = deliveries.filterNot(_.replay).map(d => d.batch -> d).toMap
    val perDelivery = deliveries.toSeq.map { d =>
      val planted = stream.batch(d.batch)
        .filter(x => x.kind == "near_dup" || x.kind == "contaminated").map(_.id).toSet
      val leaked = d.admitted.intersect(planted).size
      if (!d.replay)
        Check("fresh batch admits no planted duplicate or contamination", leaked == 0,
          s"$leaked admitted", d.op)
      else {
        val first = byBatch(d.batch)
        Check("redelivered batch re-emits the admitted set and adds no index rows",
          d.admitted == first.admitted && d.indexRowsAfter == d.indexRowsBefore,
          s"admitted ${d.admitted.size} vs ${first.admitted.size}, index rows " +
            s"${d.indexRowsBefore} -> ${d.indexRowsAfter}", d.op)
      }
    }
    val admittedRows = byBatch.values.map(_.admitted.size.toLong).sum
    val finalRows = indexRows()
    perDelivery ++ probeChecks.filterNot(_.ok) ++ Seq(
      Check("index rows equal standing plus admitted rows",
        finalRows == Standing + admittedRows, s"$finalRows vs ${Standing + admittedRows}"))
  }

  private def fresh = deliveries.filterNot(_.replay)

  def report(ops: Seq[OpRec], windowS: Double): Seq[(String, Double, String)] = {
    val batch = Workload.latency(ops, primaryKind)
    val probes = Workload.latency(ops, "ingest.probe")
    val texts = stream.standing.map(d => d.id -> d.text).toMap ++
      (0 until nextBatch).flatMap(k => stream.batch(k).map(d => d.id -> d.text))
    def bytesOf(ids: Iterable[Long]) = ids.map(texts(_).getBytes("UTF-8").length.toLong).sum
    val inputBytes = (0 until nextBatch).flatMap(stream.batch).map(_.text.getBytes("UTF-8").length.toLong).sum
    val admittedBytes = bytesOf(stream.standing.map(_.id)) + bytesOf(fresh.flatMap(_.admitted))
    Seq(("batch_p50_ms", Stats.median(batch), "ms"),
      ("probe_p50_ms", Stats.median(probes), "ms"),
      ("probe_p90_ms", Stats.quantile(probes, 0.9), "ms"),
      ("docs_per_s", ops.filter(_.ok).map(_.items).sum / windowS, "docs/s"),
      ("write_amp", fresh.map(_.bytesWritten).sum.toDouble / math.max(inputBytes, 1L), "ratio"),
      ("space_amp", Disk.bytes(Seq(dir)).toDouble / math.max(admittedBytes, 1L), "ratio"),
      ("batches", fresh.size.toDouble, "count"),
      ("probes", probes.size.toDouble, "count"))
  }

  override def layerExtras(ops: Seq[OpRec]): Map[String, Double] = {
    val lat = ops.filter(o => o.kind == primaryKind && o.ok).map(_.ms)
    val q = math.max(lat.size / 4, 1)
    val replays = deliveries.filter(_.replay)
    Map(
      "StreamVerbs.bytes_written_per_batch" -> Stats.median(fresh.map(_.bytesWritten.toDouble).toSeq),
      "StreamVerbs.files_written_per_batch" -> Stats.median(fresh.map(_.filesWritten.toDouble).toSeq),
      "StreamVerbs.batch_growth" ->
        (if (lat.size < 2) 0.0 else Stats.median(lat.takeRight(q)) / Stats.median(lat.take(q))),
      "StreamVerbs.replay_ms" ->
        (if (replays.isEmpty) 0.0 else Stats.median(Workload.latency(ops, "ingest.replay") ++
          ops.filter(o => o.kind == "ingest.replay" && o.ok && o.traced).map(_.ms))),
      "StreamVerbs.replay_bytes_written" ->
        (if (replays.isEmpty) 0.0 else replays.map(_.bytesWritten.toDouble).sum / replays.size))
  }
}
