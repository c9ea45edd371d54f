package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.functions._

/** Shows that no check passes vacuously: each workload runs one pass at
  * self-test size, its real outputs must pass every check, and each
  * corruption of an output must make its check fail. The snapshot pass's
  * files stay on disk for the DuckDB half of the self-test in selftest.py.
  */
object SelfTest {
  def run(work: Path, cores: Int): String = {
    val spark = Session.build(work, cores)
    val tr = new Tracer(spark, enabled = false)
    val lines = mutable.ArrayBuffer.empty[(String, Boolean)]
    def real(wl: Workload): Unit = {
      wl.prepare(); wl.generate(0); wl.run(0, tr)
      wl.check(0).foreach { case (what, o) =>
        lines += (s"${wl.getClass.getSimpleName} real output passes $what${o.fold("")(" — " + _)}" -> o.isEmpty)
      }
    }
    def corrupt(what: String, o: Checks.Outcome): Unit =
      lines += (s"$what is detected${o.fold("")(" — " + _)}" -> o.nonEmpty)

    val snap = new SnapshotDiff(spark, work, 7L, small = true)
    real(snap)
    val rows = snap.changesetRows(0)
    val dropped = rows.tail
    corrupt("snapshot_diff: one changeset row dropped",
      Checks.keySets(dropped, snap.plantedKeys(0)))
    val (st, k) = rows.head
    val flipped = (if (st == "C") "I" else "C", k) +: rows.tail
    corrupt("snapshot_diff: one changeset status flipped",
      Checks.keySets(flipped, snap.plantedKeys(0)))
    val cs = snap.changeset(0)
    val (ok, lk) = (k / 4 + 1, (k % 4 + 1).toInt)
    corrupt("snapshot_diff: changeset minus one row applied",
      Checks.fingerprint(snap.appliedFrom(0, cs.filter(
        !(col("l_orderkey") === ok && col("l_linenumber") === lk))), snap.rightFingerprint(0)))
    val census = snap.programCensus(0)
    corrupt("snapshot_diff: one census count off by one",
      Checks.census(census.updated("C", census.getOrElse("C", 0L) + 1), snap.plantedCensus(0)))

    val cat = new CatalogSweep(spark, work, 7L, small = true)
    real(cat)
    val report = cat.reportRows(0)
    val victim = report.find(r => r.table == cat.tableNames.head && r.kind == "census").get
    corrupt(s"catalog_sweep: report row ${victim.table}/${victim.item} dropped",
      Checks.reportTable(report.filterNot(_ == victim), victim.table,
        cat.plantedTable(0, victim.table)))
    val flipVerdict = report.map(r =>
      if (r.table == victim.table) r.copy(verdict = if (r.verdict == "pass") "fail" else "pass") else r)
    corrupt(s"catalog_sweep: verdict of ${victim.table} flipped",
      Checks.reportTable(flipVerdict, victim.table, cat.plantedTable(0, victim.table)))
    corrupt("catalog_sweep: wrong elected key",
      Checks.electedKey(Some(Seq("v0")), victim.table, cat.plantedTable(0, victim.table).keys))

    val nd = new NearDupCorpus(spark, work, 7L, small = true)
    real(nd)
    val o = nd.outputs(0)
    val c = nd.planted(0)
    val singles = c.labels.collect { case (id, l) if id == l && !c.clusters.exists(_.contains(id)) => id }
      .toSeq.sorted.take(2)
    val falsePair = (singles(0), singles(1))
    corrupt("near_dup_corpus: one doc missing from the cached table",
      Checks.docsLoaded(o.loaded - 1, c.docs.size))
    corrupt("near_dup_corpus: one false exact pair added",
      Checks.pairs(nd.exactPairs(0) :+ falsePair, c.pairs))
    corrupt("near_dup_corpus: one false LSH pair added",
      Checks.lsh(o.lsh :+ falsePair, c.pairs, nd.lshFloor(0)))
    corrupt("near_dup_corpus: LSH pairs below the recall floor",
      Checks.lsh(o.lsh.take(o.lsh.size / 2), c.pairs, nd.lshFloor(0)))
    corrupt("near_dup_corpus: two singletons merged into one cluster",
      Checks.clusters(o.labels.map { case (id, l) => if (id == singles(1)) (id, singles(0)) else (id, l) },
        c.labels))
    spark.stop()

    lines.foreach { case (m, good) => println(s"[selftest] ${if (good) "ok  " else "FAIL"} $m") }
    Json.obj(Seq(
      "ok" -> lines.forall(_._2).toString,
      "checks" -> lines.size.toString,
      "external" -> Json.arr(snap.external(0).toSeq)))
  }
}
