package storebench

import org.apache.spark.sql.SparkSession

/**
 * One request of a workload's fixed schedule. `run` is the timed call
 * into the engine. It returns the untimed check, which compares the
 * answer with the benchmark's model and gives the number of result rows,
 * or the reason the answer is wrong. `rowsMetric` names the per-layer
 * metric that receives the rows this request read, when there is one.
 */
final case class Op(kind: String, read: Boolean, run: () => (() => Either[String, Long]),
                    rowsMetric: Option[String] = None)

/** A closed-loop workload over one or more engine stores. */
trait Workload {
  /** Requests per cycle of the schedule. */
  def cycle: Int
  /** Nominal seconds one cycle takes (4-core host); sizes the timed part
    * of a run from `--seconds`. A constant, never a measurement. */
  def cycleSeconds: Double
  /** Generate the inputs and build the stores under `dir`. */
  def setup(dir: String): Unit
  /** Release a set-up that will not be served (stops its streams). */
  def discard(): Unit = ()
  /** Request `i` of the schedule, built against the model's current state. */
  def op(i: Int): Op
  /** Roots of every store tree, for the bytes-per-row figure. */
  def storeDirs: Seq[String]
  def liveRows: Long
  /** End-of-run checks outside the timed window; each string is a failure. */
  def finish(): Seq[String] = Nil
  /** Extra figures for the details line. */
  def details: Seq[(String, Any)] = Nil
  def close(): Unit = discard()
}

object Workload {
  val Names = Seq("point_read", "point_ingest", "doc_serve")

  def apply(name: String, spark: SparkSession, seed: Long, t: Tracer): Workload = name match {
    case "point_read" => new PointRead(spark, seed, t)
    case "point_ingest" => new PointIngest(spark, seed, t)
    case "doc_serve" => new DocServe(spark, seed, t)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  /** Count + id checksum of a set of ids, as the range checks compare them. */
  final case class IdSum(count: Long, sum: Long, xor: Long) {
    def +(id: Long): IdSum = IdSum(count + 1, sum + id, xor ^ mix(id))
  }
  val EmptySum: IdSum = IdSum(0, 0, 0)
  /** Same spelling as the engine-side `bit_xor(id * 2654435761)`; ids stay
    * below 2^31, so the product never overflows. */
  def mix(id: Long): Long = id * 2654435761L
}
