package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** One benchmark run in one JVM:
  *
  * {{{
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE --cores C --launched-ms T [--trace-file FILE]
  *   perfbench.Main --selftest 1 --work DIR --out FILE --cores C
  * }}}
  *
  * Set-up (session build, extension install) is timed once, from `T`, the
  * wall-clock millisecond just before run.py started the JVM process, to the
  * session being ready. Then pass 0 runs cold,
  * and further passes run until `S` seconds have passed (at least
  * [[MinPasses]]). Each pass is generate (untimed), run (timed), check
  * (untimed). The result goes to `--out` as JSON; run.py adds the checks
  * made outside the JVM and prints the final line.
  */
object Main {
  val MinPasses = 2

  /** Per-layer figures, in the order and units of BENCHMARK.json. */
  val LayerFigures = Seq("build_s" -> "s", "exec_s" -> "s", "jobs" -> "count",
    "tasks" -> "count", "task_s" -> "s", "cores_used" -> "cores", "shuffle_mb" -> "MB",
    "spill_mb" -> "MB")
  val AllLayers = Seq("Differ.diff", "GraftExtensions.graft_diff_summary",
    "Differ.applyChangeset", "TxnLog.merge", "Differ.catalogDiffTxnLog",
    "Tables.cachedTable", "TextOps.nearDupPairs", "TextOps.minHashLshPairs",
    "GraphOps.connectedComponents")

  final case class Pass(p: Int, wall: Double, cpu: Double, gc: Double, rows: Long)

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val work = Paths.get(args("work")).toAbsolutePath
    val out = Paths.get(args("out")).toAbsolutePath
    val cores = args("cores").toInt
    Files.createDirectories(work)
    val body =
      if (argv.contains("--selftest")) SelfTest.run(work, cores)
      else measure(args("workload"), args("seed").toLong, args("seconds").toDouble,
        args("trace") == "1", work, cores, args("launched-ms").toLong,
        args.get("trace-file").map(Paths.get(_)))
    Files.writeString(out, body + "\n")
  }

  private def measure(name: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, cores: Int, launchedMs: Long,
                      traceFile: Option[Path]): String = {
    val spark = Session.build(work, cores)
    val setup = (System.currentTimeMillis() - launchedMs) / 1e3
    val wl = Workload(name, spark, work, seed, small = false)
    val tr = new Tracer(spark, trace)
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]

    def pass(p: Int): Pass = {
      val g = Clock.now
      tr.span("generate", p)(wl.generate(p))
      val (w0, c0, g0) = (Clock.now, Clock.cpuS, Clock.gcS)
      val callsBefore = tr.calls
      tr.span("pass", p)(wl.run(p, tr))
      val (w1, c1, g1) = (Clock.now, Clock.cpuS, Clock.gcS)
      attempted += tr.calls - callsBefore
      val outcomes = tr.span("check", p)(wl.check(p))
      attempted += outcomes.size
      outcomes.foreach { case (what, o) => o.foreach(m => failures += s"pass $p $what: $m") }
      wl.release(p)
      Console.err.println(f"[perfbench] pass $p: generate ${w0 - g}%.2f s, run ${w1 - w0}%.2f s, " +
        f"check ${Clock.now - w1}%.2f s")
      Pass(p, w1 - w0, c1 - c0, g1 - g0, wl.rows(p))
    }

    val t = Clock.now
    tr.span("prepare", -1)(wl.prepare())
    Console.err.println(f"[perfbench] prepare ${Clock.now - t}%.2f s")
    val passes = mutable.ArrayBuffer.empty[Pass]
    try {
      passes += pass(0)
      val start = Clock.now
      while (passes.size <= MinPasses || Clock.now - start < seconds) passes += pass(passes.size)
    } catch {
      case e: Throwable =>
        attempted += 1
        failures += s"pass ${passes.size}: ${e.getClass.getName}: ${e.getMessage}".take(2000)
        e.printStackTrace()
    }
    val later = passes.drop(1)
    val metrics: Seq[(String, Double, String)] =
      if (later.isEmpty) Nil
      else if (!trace) Seq(
        ("setup_s", setup, "s"),
        ("cold_s", passes.head.wall, "s"),
        ("rows_per_s", Clock.median(later.map(q => q.rows / q.wall).toSeq), "rows/s"),
        ("cpu_s", Clock.median(later.map(_.cpu).toSeq), "s"),
        ("peak_rss_mb", Clock.peakRssMb, "MB"))
      else {
        tr.drainForFigures()
        val ps = later.map(_.p).toSeq
        AllLayers.flatMap { layer =>
          val figs = ps.map(tr.layerFigures(layer, _))
          LayerFigures.map { case (f, unit) =>
            (s"$layer.$f", if (wl.layers.contains(layer)) Clock.median(figs.map(_(f))) else 0.0, unit)
          }
        } ++ lshFigures(wl, tr, ps) :+
          (("runtime.gc_s", Clock.median(later.map(_.gc).toSeq), "s"))
      }
    traceFile.foreach(f => tr.finish(f, Seq("workload" -> Json.str(name),
      "seed" -> seed.toString)))
    spark.stop()
    Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "attempted" -> attempted.toString, "failed" -> failures.size.toString,
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "passes" -> passes.size.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "pass_figures" -> Json.arr(passes.toSeq.map(q => Json.obj(Seq(
        "pass" -> q.p.toString, "wall_s" -> Json.num(q.wall), "cpu_s" -> Json.num(q.cpu),
        "rows" -> q.rows.toString)))),
      "external" -> Json.arr(passes.toSeq.flatMap(q => wl.external(q.p))),
      "setup_s" -> Json.num(setup)))
  }

  /** Banded-LSH candidate count and verified share, per pass (median). */
  private def lshFigures(wl: Workload, tr: Tracer, ps: Seq[Int]): Seq[(String, Double, String)] = {
    val rows = wl match {
      case nd: NearDupCorpus => ps.map { p =>
        val c = tr.planMetric(s"lsh$p").getOrElse("candidates", 0.0)
        (c, if (c > 0) nd.lshPairs(p) / c else 0.0)
      }
      case _ => ps.map(_ => (0.0, 0.0))
    }
    Seq(("TextOps.minHashLshPairs.candidates", Clock.median(rows.map(_._1)), "count"),
      ("TextOps.minHashLshPairs.verify_yield", Clock.median(rows.map(_._2)), "ratio"))
  }
}
