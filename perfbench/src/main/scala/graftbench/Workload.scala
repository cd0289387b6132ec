package graftbench

import org.apache.spark.sql.Row

/** One timed operation of a workload's closed loop. `items` is the input
  * it processed (pipelines, documents); `ok` is false when it threw or
  * its output check failed.
  */
final case class OpRec(id: Int, kind: String, ms: Double, items: Long,
                       ok: Boolean, traced: Boolean, err: String = null)

/** An output check made after the timed window. A check of one op's
  * output names that op (`op` >= 0); a failed one fails the op.
  */
final case class Check(name: String, ok: Boolean, detail: String = "",
                       op: Int = -1)

/** What the harness needs from a workload. A workload owns its generated
  * inputs and artifacts; graft receives only DataFrames and paths.
  */
trait Workload {
  /** Kind of the op whose latency is the workload's `op_p50_ms`. */
  def primaryKind: String
  /** Generates the inputs for `seed` and builds the artifacts under
    * `dir`; returns a digest of the generated inputs.
    */
  def build(dir: String): Long
  /** Digest of the inputs `seed` generates, without building artifacts. */
  def digestFor(seed: Long): Long
  /** Runs before the timed window; its time counts in `setup_s`. */
  def warmup(): Unit
  /** One iteration of the closed loop: one or more timed ops. */
  def step(i: Int): Seq[OpRec]
  /** Ops run after the timed window, outside its time and throughput. */
  def afterWindow(): Seq[OpRec] = Nil
  /** Output checks of everything the loop produced. */
  def checks(): Seq[Check]
  def inputSizes: Seq[(String, Long)]
  /** The workload's own metrics, named as in the benchmark README:
    * (name, value, unit).
    */
  def report(ops: Seq[OpRec], windowS: Double): Seq[(String, Double, String)]
  /** Per-layer figures the workload computes itself (see `Main.LayerExtras`). */
  def layerExtras(ops: Seq[OpRec]): Map[String, Double] = Map.empty
}

object Workload {
  /** Runs `body` as one timed op; an exception becomes a failed op. */
  def timed(tr: Tracer, kind: String, items: Long,
            trace: Option[Boolean] = None)(body: => Boolean): OpRec =
    try {
      val (ok, ms, traced) = tr.op(kind, trace)(body)
      OpRec(tr.currentOp, kind, ms, items, ok, traced)
    } catch {
      case e: Throwable =>
        System.err.println(s"op $kind failed: $e")
        e.printStackTrace()
        OpRec(tr.currentOp, kind, Double.NaN, items, ok = false, traced = false,
          err = Option(e.getMessage).getOrElse(e.toString).linesIterator
            .take(1).mkString)
    }

  def latency(ops: Seq[OpRec], kind: String): Seq[Double] =
    ops.filter(o => o.kind == kind && o.ok && !o.traced).map(_.ms)

  /** Rows compared as multisets (or in order), with doubles compared to a
    * relative tolerance of 1e-9.
    */
  def sameRows(got: Seq[Row], want: Seq[Row], ordered: Boolean): Boolean = {
    def norm(r: Row): Seq[Any] = r.toSeq.map {
      case d: java.math.BigDecimal => d.stripTrailingZeros
      case x => x
    }
    def key(r: Seq[Any]): String = r.map {
      case d: Double => f"$d%.6e"
      case x => String.valueOf(x)
    }.mkString("\u0001")
    val g = got.map(norm)
    val w = want.map(norm)
    val (gs, ws) = if (ordered) (g, w) else (g.sortBy(key), w.sortBy(key))
    gs.size == ws.size && gs.zip(ws).forall { case (a, b) =>
      a.size == b.size && a.zip(b).forall {
        case (x: Double, y: Double) =>
          x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
        case (x, y) => x == y
      }
    }
  }
}
