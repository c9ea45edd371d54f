package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Versions of one lineitem-shaped table keyed by (l_orderkey,
  * l_linenumber). Key k is line k % 4 + 1 of order k / 4 + 1. Keys below
  * `n0` exist at version 0; each later version inserts `ni` new keys, and
  * every live key independently dies (prob `pd`) or changes its payload
  * (prob `pc`) at each version. All of it is a pure function of the seed,
  * so tasks generate rows and the main thread derives the truth without
  * exchanging data.
  */
final case class LineitemGen(seed: Long, n0: Long, ni: Long, pd: Double, pc: Double) {
  import Rng.{h, unit, below}

  def keys(v: Int): Long = n0 + v * ni
  def born(k: Long): Int = if (k < n0) 0 else ((k - n0) / ni + 1).toInt
  def diesAt(k: Long, u: Int): Boolean = unit(h(seed, k, u, 1)) < pd
  def changesAt(k: Long, u: Int): Boolean = unit(h(seed, k, u, 2)) < pc

  def alive(k: Long, v: Int): Boolean = {
    val b = born(k)
    b <= v && !(b + 1 to v).exists(diesAt(k, _))
  }
  /** Payload revision of a live key at version v. */
  def revision(k: Long, v: Int): Int = (born(k) + 1 to v).count(changesAt(k, _))

  def row(k: Long, c: Int): Row = {
    val qty = 1 + below(h(seed, k, c, 5), 50)
    val ship = LineitemGen.epoch.plusDays(below(h(seed, k, 0, 11), 2500).toLong)
    // price moves by a fixed step per revision, so a change always shows
    val cents = 90000L + below(h(seed, k, 0, 6), 10000000) + 137L * c
    Row(k / 4 + 1, 1 + below(h(seed, k, 0, 3), 20000).toLong,
      1 + below(h(seed, k, 0, 4), 1000).toLong, (k % 4 + 1).toInt,
      qty.toDouble, cents / 100.0, below(h(seed, k, c, 7), 11) / 100.0,
      below(h(seed, k, 0, 8), 9) / 100.0,
      LineitemGen.flags(below(h(seed, k, c, 9), 3)),
      if (below(h(seed, k, c, 10), 2) == 0) "O" else "F",
      java.sql.Date.valueOf(ship),
      java.sql.Date.valueOf(ship.plusDays(below(h(seed, k, 0, 12), 60) - 30L)),
      java.sql.Date.valueOf(ship.plusDays(1L + below(h(seed, k, 0, 13), 30))),
      LineitemGen.instruct(below(h(seed, k, 0, 14), 4)),
      LineitemGen.modes(below(h(seed, k, 0, 15), 7)),
      (0 until 3 + below(h(seed, k, c, 16), 4))
        .map(i => LineitemGen.words(below(h(seed, k, c, 17 + i), LineitemGen.words.size)))
        .mkString(" "))
  }
}

object LineitemGen {
  val epoch = java.time.LocalDate.of(1992, 1, 2)
  val flags = Array("A", "N", "R")
  val instruct = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  val modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val words = Array("carefully", "final", "deposits", "sleep", "quickly", "ironic",
    "packages", "among", "the", "slyly", "regular", "accounts", "furiously", "bold",
    "requests", "pending", "express", "theodolites", "blithely", "unusual")
  val schema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType), StructField("l_commitdate", DateType),
    StructField("l_receiptdate", DateType), StructField("l_shipinstruct", StringType),
    StructField("l_shipmode", StringType), StructField("l_comment", StringType)))
  val keyCols = Seq("l_orderkey", "l_linenumber")
}

/** `snapshot_diff`: pass p diffs version p (left) against version p + 1
  * (right) of one table stored as many parquet files, writes the
  * changeset, takes the census through the SQL table function, and applies
  * the changeset read back from disk to the left side.
  */
final class SnapshotDiff(val spark: SparkSession, work: Path, seed: Long, small: Boolean)
    extends Workload {
  import SnapshotDiff._

  private val gen = if (small) LineitemGen(seed, 4000, 40, 0.004, 0.01)
                    else LineitemGen(seed, 200000, 800, 0.002, 0.004)
  private val files = if (small) 4 else 16
  private val keyCols = LineitemGen.keyCols

  val layers = Seq("Differ.diff", "GraftExtensions.graft_diff_summary", "Differ.applyChangeset")

  private def vdir(v: Int) = Fs.path(work, "snapshot", s"v$v")
  private def csdir(p: Int) = Fs.path(work, "snapshot", s"changeset$p")

  private val nRows = mutable.Map.empty[Int, Long]
  private val truth = mutable.Map.empty[Int, Map[String, Set[Long]]]
  private val census = mutable.Map.empty[Int, Map[String, Long]]
  private val censusGot = mutable.Map.empty[Int, Map[String, Long]]
  private val applied = mutable.Map.empty[Int, (Long, Long)]

  private def write(v: Int): Unit = {
    val g = gen
    val rdd = spark.sparkContext.range(0L, g.keys(v), 1L, files)
      .mapPartitions(_.filter(g.alive(_, v)).map(k => g.row(k, g.revision(k, v))))
    spark.createDataFrame(rdd, LineitemGen.schema).write.parquet(vdir(v))
    Fs.sync(vdir(v))
    nRows(v) = (0L until g.keys(v)).count(g.alive(_, v)).toLong
  }

  def prepare(): Unit = write(0)

  /** Version p + 1, and the per-status key sets of p → p + 1. */
  def generate(p: Int): Unit = {
    write(p + 1)
    val sets = Map("C" -> mutable.Set.empty[Long], "I" -> mutable.Set.empty[Long],
      "D" -> mutable.Set.empty[Long])
    var n = 0L
    var k = 0L
    while (k < gen.keys(p + 1)) {
      val (l, r) = (gen.alive(k, p), gen.alive(k, p + 1))
      if (l && !r) sets("D") += k
      else if (!l && r) sets("I") += k
      else if (l && r) { if (gen.changesAt(k, p + 1)) sets("C") += k else n += 1 }
      k += 1
    }
    truth(p) = sets.map { case (s, ks) => s -> ks.toSet }
    census(p) = truth(p).map { case (s, ks) => s -> ks.size.toLong } + ("N" -> n)
  }

  def run(p: Int, tr: Tracer): Unit = {
    val left = spark.read.parquet(vdir(p))
    val right = spark.read.parquet(vdir(p + 1))
    tr.call("Differ.diff", p)(graft.Graft.diff(left, right, keyCols)) { d =>
      d.filter(col("diff_status") =!= "N").write.parquet(csdir(p))
    }
    val got = tr.call("GraftExtensions.graft_diff_summary", p)(spark.sql(
      s"SELECT * FROM graft_diff_summary('${vdir(p)}', '${vdir(p + 1)}', " +
        s"'${keyCols.mkString(",")}')"))(_.collect())
    censusGot(p) = got.map(r => r.getString(0) -> r.getLong(1)).toMap
    applied(p) = tr.call("Differ.applyChangeset", p)(
      graft.Graft.applyChangeset(left, spark.read.parquet(csdir(p)), keyCols))(fingerprint)
  }

  /** The changeset's (status, key) rows as written. */
  def changesetRows(p: Int): Seq[(String, Long)] =
    spark.read.parquet(csdir(p)).select("diff_status", keyCols: _*).collect().toSeq
      .map(r => r.getString(0) -> ((r.getLong(1) - 1) * 4 + (r.getInt(2) - 1)))

  def check(p: Int): Seq[(String, Checks.Outcome)] = Seq(
    "census" -> Checks.census(censusGot(p), census(p)),
    "changeset_keys" -> Checks.keySets(changesetRows(p), truth(p)),
    "applied_equals_right" -> Checks.fingerprint(applied(p),
      fingerprint(spark.read.parquet(vdir(p + 1)))))

  /** Applying a corrupted changeset must not reproduce the right side. */
  def appliedFrom(p: Int, changeset: DataFrame): (Long, Long) =
    fingerprint(graft.Graft.applyChangeset(spark.read.parquet(vdir(p)), changeset, keyCols))
  def changeset(p: Int): DataFrame = spark.read.parquet(csdir(p))
  def rightFingerprint(p: Int): (Long, Long) = fingerprint(spark.read.parquet(vdir(p + 1)))
  def plantedCensus(p: Int): Map[String, Long] = census(p)
  def plantedKeys(p: Int): Map[String, Set[Long]] = truth(p)
  def programCensus(p: Int): Map[String, Long] = censusGot(p)

  override def release(p: Int): Unit = ()

  def rows(p: Int): Long = nRows(p) + nRows(p + 1)

  override def external(p: Int): Option[String] = Some(Json.obj(Seq(
    "left" -> Json.str(vdir(p)), "right" -> Json.str(vdir(p + 1)),
    "keys" -> Json.arr(keyCols.map(Json.str)),
    "planted" -> Json.obj(census(p).toSeq.sorted.map { case (s, n) => s -> n.toString }))))
}

object SnapshotDiff {
  /** (rows, sum of each row's 64-bit hash mod 2^32): equal multisets give
    * equal fingerprints whatever the row order. Columns are hashed in name
    * order so column order does not matter either.
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(
      xxhash64(df.columns.sorted.toSeq.map(col): _*), lit(1L << 32))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
