package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.sources.TxnLog

/** `catalog_sweep`: a catalog of small TxnLog tables of varied shapes. Each
  * pass commits one new version of every table — a MERGE upsert, a
  * deletion-vector DELETE, or (untouched tables) a MERGE re-delivering rows
  * identical to the stored ones — then sweeps the catalog prev-vs-latest
  * with elected keys. Table contents live in the JVM as plain maps, so
  * every census is planted exactly.
  *
  * One table of each shape:
  *   t00 decoy      id key; MERGE changes and inserts; a unique load_uid
  *                  is redrawn on every rewritten row, so the election
  *                  must prefer id by cross-side overlap
  *   t01 pair       no unique column; key (grp, seq); whole groups are
  *                  replaced, so rows change, vanish and appear
  *   t02 delete     id key; deleteWhere on a few keys
  *   t03 untouched  id key; identical re-delivery, census all N
  * A sweep costs about 17 Spark jobs per table, so a few dozen tables
  * would not fit a run; four keep every shape in every pass.
  * Value columns draw from small domains, so none is ever unique.
  */
final class CatalogSweep(val spark: SparkSession, work: Path, seed: Long, small: Boolean)
    extends Workload {
  import CatalogSweep._
  import Rng.{h, below}

  private val nTables = Kinds.length
  private val root = work.resolve("catalog")
  val layers = Seq("TxnLog.merge", "Differ.catalogDiffTxnLog")

  private final class Table(val idx: Int) {
    val name = f"t$idx%02d"
    val path = root.resolve(name).toString
    val kind = Kinds(idx % Kinds.length)
    val pair = kind == "pair"
    val decoy = kind == "decoy"
    val keyCol = if (pair) "grp" else "id"
    val keys: Seq[String] = if (pair) Seq("grp", "seq") else Seq("id")
    // pair tables stay narrow: the pair tier of the election ranks at most
    // six columns, and (grp, seq) must be among them
    val valueTypes: Seq[String] =
      (0 until (if (pair) 2 + idx % 2 else 2 + idx % 5)).map(j => ValueTypes((idx + j) % 4))
    val schema = StructType(
      (if (pair) Seq(StructField("grp", LongType), StructField("seq", IntegerType))
       else Seq(StructField("id", LongType))) ++
      (if (decoy) Seq(StructField("load_uid", LongType)) else Nil) ++
      valueTypes.zipWithIndex.map { case (t, j) => StructField(s"v$j", sparkType(t)) })
    /** key → value columns (load_uid first on decoy tables); pair keys are
      * grp * 1000 + seq.
      */
    val rows = mutable.LongMap.empty[Array[Any]]
    var nextId = 0L
    var version = 0L
  }

  private val tables = (0 until nTables).map(new Table(_))

  private def value(t: Table, j: Int, x: Long): Any = t.valueTypes(j) match {
    case "int"    => below(x, 20)
    case "double" => below(x, 30) * 0.5
    case "string" => Words(below(x, Words.length))
    case "date"   => java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1)
                       .plusDays(below(x, 40).toLong))
  }
  private def freshValues(t: Table, salt: Long*): Array[Any] =
    ((if (t.decoy) Seq[Any](h(seed, salt :+ -1L: _*) >>> 2) else Nil) ++
      t.valueTypes.indices.map(j => value(t, j, h(seed, salt :+ j.toLong: _*)))).toArray
  private def toRow(t: Table, k: Long, vs: Array[Any]): Row =
    if (t.pair) Row.fromSeq(Seq[Any](k / 1000, (k % 1000).toInt) ++ vs)
    else Row.fromSeq(k +: vs.toSeq)
  private def frame(t: Table, rows: Iterable[Row]) =
    spark.createDataFrame(rows.toSeq.asJava, t.schema)

  private def size(t: Table): Int = (if (small) 60 else 300) + (if (small) 20 else 250) * ((t.idx * 7) % 12)

  def prepare(): Unit = {
    Files.createDirectories(root)
    for (t <- tables) {
      if (t.pair) {
        var g = 1L
        while (t.rows.size < size(t)) {
          (1 to 3 + below(h(seed, t.idx, g, 0), 5)).foreach(s =>
            t.rows(g * 1000 + s) = freshValues(t, t.idx, g, s, 0))
          g += 1
        }
        t.nextId = g
      } else {
        (1L to size(t)).foreach(k => t.rows(k) = freshValues(t, t.idx, k, 0))
        t.nextId = size(t) + 1L
      }
      TxnLog.initKeyed(frame(t, t.rows.toSeq.sortBy(_._1).map { case (k, v) => toRow(t, k, v) }),
        t.path, t.keyCol)
    }
  }

  private final case class Commit(table: Table, file: String, delete: Boolean)
  private val commits = mutable.Map.empty[Int, Seq[Commit]]
  private val truth = mutable.Map.empty[Int, Map[String, Checks.TableTruth]]
  private val nRows = mutable.Map.empty[Int, Long]
  private val report = mutable.Map.empty[Int, Seq[Checks.ReportRow]]

  /** Pick `n` distinct keys of `t` with the pass's randomness. */
  private def pick(t: Table, p: Int, n: Int, salt: Long): Seq[Long] = {
    val ks = t.rows.keys.toArray.sorted
    ks.indices.sortBy(i => h(seed, t.idx, p, salt, ks(i))).take(n).map(ks(_))
  }

  /** A value differing from `old` in column j. */
  private def changed(t: Table, j: Int, old: Any, x: Long): Any =
    Iterator.from(0).map(i => value(t, j, x + i)).find(_ != old).get

  def generate(p: Int): Unit = {
    val dir = work.resolve(s"catalog-updates/p$p")
    var before = 0L
    val out = tables.map { t =>
      // a deletion vector blocks MERGE and grows every read; fold it first,
      // as routine maintenance between loads would
      if (TxnLog.liveDeleteVectors(t.path).nonEmpty) TxnLog.compact(spark, t.path, 1)
      before += t.rows.size
      val (batch, census) = t.kind match {
        case "untouched" =>
          val ks = pick(t, p, 5, 1)
          (ks.map(k => toRow(t, k, t.rows(k))), Map("N" -> t.rows.size.toLong))
        case "delete" =>
          val ks = pick(t, p, math.max(1, t.rows.size / 50), 2)
          val n = t.rows.size - ks.size
          ks.foreach(t.rows.remove)
          (ks.map(k => Row(k)), Map("N" -> n.toLong, "D" -> ks.size.toLong))
        case "pair" =>
          val groups = t.rows.keys.map(_ / 1000).toSeq.distinct.sorted
          val touched = groups.sortBy(g => h(seed, t.idx, p, 3, g))
            .take(math.max(1, groups.size / 25))
          var (c, i, d) = (0L, 0L, 0L)
          val rows = touched.flatMap { g =>
            val seqs = t.rows.keys.filter(_ / 1000 == g).toSeq.sorted
            val drop = if (seqs.size > 3) Some(seqs(seqs.size - 2)) else None
            drop.foreach { k => t.rows.remove(k); d += 1 }
            val edit = seqs.head
            val j = below(h(seed, t.idx, p, 4, g), t.valueTypes.size)
            val vs = t.rows(edit).clone()
            vs(j) = changed(t, j, vs(j), h(seed, t.idx, p, 5, g))
            t.rows(edit) = vs; c += 1
            val add = g * 1000 + (seqs.last % 1000) + 1
            t.rows(add) = freshValues(t, t.idx, p, 6, add); i += 1
            t.rows.keys.filter(_ / 1000 == g).toSeq.sorted.map(k => toRow(t, k, t.rows(k)))
          }
          (rows, Map("N" -> (t.rows.size - c - i), "C" -> c, "I" -> i, "D" -> d))
        case "decoy" =>
          val ks = pick(t, p, math.max(1, t.rows.size / 33), 7)
          val off = if (t.decoy) 1 else 0
          ks.foreach { k =>
            val vs = t.rows(k).clone()
            val j = below(h(seed, t.idx, p, 8, k), t.valueTypes.size)
            vs(off + j) = changed(t, j, vs(off + j), h(seed, t.idx, p, 9, k))
            if (t.decoy) vs(0) = h(seed, t.idx, p, 10, k) >>> 2
            t.rows(k) = vs
          }
          val fresh = (0 until math.max(1, t.rows.size / 100)).map { _ =>
            val k = t.nextId; t.nextId += 1
            t.rows(k) = freshValues(t, t.idx, p, 11, k); k
          }
          ((ks ++ fresh).sorted.map(k => toRow(t, k, t.rows(k))),
            Map("N" -> (t.rows.size - ks.size - fresh.size).toLong,
              "C" -> ks.size.toLong, "I" -> fresh.size.toLong))
      }
      val file = dir.resolve(t.name).toString
      val schema = if (t.kind == "delete") StructType(Seq(StructField("id", LongType))) else t.schema
      spark.createDataFrame(batch.asJava, schema).coalesce(1).write.parquet(file)
      val full = Seq("N", "C", "I", "D").map(s => s -> census.getOrElse(s, 0L)).toMap
      val verdict = if (full("C") + full("I") + full("D") == 0) "pass" else "fail"
      (Commit(t, file, t.kind == "delete"), t.name -> Checks.TableTruth(full, t.keys, verdict))
    }
    commits(p) = out.map(_._1)
    truth(p) = out.map(_._2).toMap
    nRows(p) = before + tables.map(_.rows.size.toLong).sum
  }

  def run(p: Int, tr: Tracer): Unit = {
    for (c <- commits(p)) {
      val t = c.table
      t.version =
        if (c.delete) tr.call("TxnLog.deleteWhere", p)(
          TxnLog.deleteWhere(spark, t.path, spark.read.parquet(c.file), "id"))(identity)
        else tr.call("TxnLog.merge", p)(
          TxnLog.merge(spark, t.path, spark.read.parquet(c.file), t.keyCol))(identity)
    }
    report(p) = tr.call("Differ.catalogDiffTxnLog", p)(
      graft.Graft.catalogDiffTxnLog(spark, root.toString))(_.collect()).toSeq.map { r =>
      Checks.ReportRow(r.getAs[String]("table_name"), r.getAs[String]("kind"),
        r.getAs[String]("item"), Option(r.getAs[java.lang.Long]("n")).map(_.longValue),
        r.getAs[String]("verdict"))
    }
  }

  def check(p: Int): Seq[(String, Checks.Outcome)] = {
    val unknown = report(p).map(_.table).distinct.filterNot(truth(p).contains)
    val t = tables(p % tables.size)
    val elected = graft.operators.Differ.inferDiffKey(
      TxnLog.read(spark, t.path, Some(t.version - 1)), TxnLog.read(spark, t.path, Some(t.version)))
    tables.map(t => s"report_${t.name}" -> Checks.reportTable(report(p), t.name, truth(p)(t.name))) ++
      Seq("report_tables" -> (if (unknown.isEmpty) None
                              else Some(s"report names unknown tables ${unknown.mkString(",")}")),
        s"elected_key_${t.name}" -> Checks.electedKey(elected, t.name, t.keys))
  }

  def reportRows(p: Int): Seq[Checks.ReportRow] = report(p)
  def plantedTable(p: Int, name: String): Checks.TableTruth = truth(p)(name)
  def tableNames: Seq[String] = tables.map(_.name)

  def rows(p: Int): Long = nRows(p)
}

object CatalogSweep {
  val Kinds = Array("decoy", "pair", "delete", "untouched")
  val ValueTypes = Array("int", "double", "string", "date")
  val Words = Array("red", "green", "blue", "amber", "teal", "gray", "black", "white",
    "olive", "navy")
  def sparkType(t: String): DataType = t match {
    case "int" => IntegerType
    case "double" => DoubleType
    case "string" => StringType
    case "date" => DateType
  }
}
