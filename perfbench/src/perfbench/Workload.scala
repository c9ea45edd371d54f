package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** One benchmark workload. A pass is one round of the same layer calls on
  * inputs the session has not seen before; every pass's inputs are written
  * by [[generate]] before its clock starts, and [[check]] compares its
  * outputs with the planted truth after the clock stops.
  */
trait Workload {
  def spark: SparkSession
  /** Layer calls one pass makes, as named in the per-layer metrics. */
  def layers: Seq[String]
  /** Untimed: inputs the first pass builds on. */
  def prepare(): Unit
  /** Untimed: pass `p`'s inputs and planted truth. */
  def generate(p: Int): Unit
  /** Timed: pass `p`'s calls, each through `tr.call`. */
  def run(p: Int, tr: Tracer): Unit
  /** Untimed: one outcome per check of pass `p`'s outputs. */
  def check(p: Int): Seq[(String, Checks.Outcome)]
  /** Untimed: drop what pass `p` left in the session. */
  def release(p: Int): Unit = graft.Tables.unpersistAll(spark)
  /** Input rows pass `p` reads: both sides, all tables, or all docs. */
  def rows(p: Int): Long
  /** Pass-level facts for the checks run outside the JVM, as JSON. */
  def external(p: Int): Option[String] = None
}

object Workload {
  /** `small` shrinks the inputs to self-test size. */
  def apply(name: String, spark: SparkSession, work: Path, seed: Long,
            small: Boolean): Workload = name match {
    case "snapshot_diff"   => new SnapshotDiff(spark, work, seed, small)
    case "catalog_sweep"   => new CatalogSweep(spark, work, seed, small)
    case "near_dup_corpus" => new NearDupCorpus(spark, work, seed, small)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
