package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing from outside the program. Every call into a layer
  * runs inside [[Tracer.call]], which records a span around the call that
  * returns the frame (`build`) and one around forcing it (`exec`), and
  * tags every Spark job either launches with a job group naming the call,
  * phase and pass. A `SparkListener` sums jobs, tasks, task time, shuffle
  * and spill per group; a `QueryExecutionListener` reads the SQL metrics
  * of executions the benchmark asks for. Spans stay in memory until
  * [[Tracer.finish]] writes them as one JSON file.
  *
  * With tracing off, `call` only runs the two closures: no listener, no
  * job groups, no spans.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val groups = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val wanted = new ConcurrentHashMap[QueryExecution, String]()
  private val planMetrics = new ConcurrentHashMap[String, Map[String, Double]]()
  private val sentinelJobs = ConcurrentHashMap.newKeySet[Int]()
  private val sentinelEnds = new AtomicInteger(0)

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties).flatMap(p => Option(p.getProperty(GroupProp))).orNull
        if (g == Sentinel) sentinelJobs.add(js.jobId)
        else if (g != null && g.startsWith(Prefix)) {
          js.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
          counts(g).jobs += 1
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (sentinelJobs.remove(je.jobId)) sentinelEnds.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val g = stageGroup.get(te.stageId)
        val m = te.taskMetrics
        if (g != null && m != null) {
          val c = counts(g)
          c.synchronized {
            c.tasks += 1
            c.taskS += m.executorRunTime / 1e3
            c.shuffleMb += m.shuffleWriteMetrics.bytesWritten / 1048576.0
            c.spillMb += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val tag = wanted.remove(qe)
        if (tag != null) planMetrics.put(tag, candidateMetrics(qe.executedPlan))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        wanted.remove(qe)
    })
  }

  private def counts(g: String): Counts = groups.computeIfAbsent(g, _ => new Counts)

  def span[A](name: String, pass: Int)(f: => A): A =
    if (!enabled) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, name, pass, System.nanoTime() - t0, -1L)
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.nanoTime() - t0)
      }
    }

  private def phase[A](layer: String, ph: String, pass: Int)(f: => A): A =
    if (!enabled) f
    else span(s"$layer.$ph", pass) {
      val sc = spark.sparkContext
      sc.setJobGroup(s"$Prefix$layer|$ph|$pass", s"$layer $ph", interruptOnCancel = false)
      try f finally sc.clearJobGroup()
    }

  /** Layer calls made so far, traced or not. */
  var calls = 0L

  /** One call into a layer: `build` returns the result, `exec` forces it. */
  def call[B, R](layer: String, pass: Int)(build: => B)(exec: B => R): R = {
    calls += 1
    span(layer, pass) {
      val b = phase(layer, "build", pass)(build)
      phase(layer, "exec", pass)(exec(b))
    }
  }

  /** Ask for the SQL metrics of the next execution of `df` (matched by
    * its QueryExecution), filed under `tag`.
    */
  def watch(df: DataFrame, tag: String): Unit =
    if (enabled) wanted.put(df.queryExecution, tag)

  /** Wait until the listener has seen every event posted so far: a
    * sentinel job's end event is delivered after all earlier events.
    */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val target = sentinelEnds.get + 1
    sc.setJobGroup(Sentinel, "trace sentinel", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 15000000000L
    while (sentinelEnds.get < target && System.nanoTime() < deadline) Thread.sleep(5)
    if (sentinelEnds.get < target)
      Console.err.println("[perfbench] trace: listener did not drain within 15 s")
  }

  /** Per-pass figures for one layer call: build_s, exec_s, jobs, tasks,
    * task_s, cores_used, shuffle_mb, spill_mb (summed over the call's
    * occurrences in the pass).
    */
  def layerFigures(layer: String, pass: Int): Map[String, Double] = {
    val mine = spans.filter(s => s.pass == pass && s.parent >= 0 &&
      spans(s.parent).name == layer && spans(s.parent).pass == pass)
    def secs(ph: String) = mine.filter(_.name == s"$layer.$ph").map(_.seconds).sum
    val cs = Seq("build", "exec").flatMap(ph => Option(groups.get(s"$Prefix$layer|$ph|$pass")))
    val build = secs("build")
    val exec = secs("exec")
    val taskS = cs.map(_.taskS).sum
    Map(
      "build_s" -> build, "exec_s" -> exec,
      "jobs" -> cs.map(_.jobs.toDouble).sum, "tasks" -> cs.map(_.tasks.toDouble).sum,
      "task_s" -> taskS,
      "cores_used" -> (if (build + exec > 0) taskS / (build + exec) else 0.0),
      "shuffle_mb" -> cs.map(_.shuffleMb).sum, "spill_mb" -> cs.map(_.spillMb).sum)
  }

  def planMetric(tag: String): Map[String, Double] =
    Option(planMetrics.get(tag)).getOrElse(Map.empty)

  /** Drain the listeners, then write every span (with its self time: its
    * duration minus the part its children cover) to `file`.
    */
  def finish(file: java.nio.file.Path, extra: Seq[(String, String)]): Unit = if (enabled) {
    drain()
    val children = spans.groupBy(_.parent)
    val rows = spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (k.start, k.end)).sortBy(_._1)
      var covered = 0L
      var reach = s.start
      kids.foreach { case (a, b) =>
        val lo = math.max(a, reach)
        if (b > lo) { covered += b - lo; reach = b }
      }
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "pass" -> s.pass.toString, "start_s" -> Json.num(s.start / 1e9),
        "end_s" -> Json.num(s.end / 1e9),
        "self_s" -> Json.num((s.end - s.start - covered) / 1e9)))
    }
    val body = Json.obj(extra :+ ("spans" -> rows.mkString("[\n", ",\n", "\n]")))
    java.nio.file.Files.createDirectories(file.getParent)
    java.nio.file.Files.writeString(file, body + "\n")
  }

  def drainForFigures(): Unit = if (enabled) drain()
}

object Tracer {
  val Prefix = "perfbench|"
  val GroupProp = "spark.jobGroup.id"
  val Sentinel = s"${Prefix}sentinel"

  final case class Span(id: Int, parent: Int, name: String, pass: Int,
                        start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }

  final class Counts {
    @volatile var jobs = 0
    var tasks = 0
    var taskS = 0.0
    var shuffleMb = 0.0
    var spillMb = 0.0
  }

  /** Every node of an executed plan, through adaptive wrappers and stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Candidate count of a banded-LSH pair plan: the output rows of the
    * final distinct over (doc_a, doc_b, a_n, b_n) that precedes verify.
    */
  def candidateMetrics(plan: SparkPlan): Map[String, Double] = {
    val distincts = nodes(plan).collect {
      case h: HashAggregateExec if h.aggregateExpressions.isEmpty &&
          h.requiredChildDistributionExpressions.isDefined &&
          h.groupingExpressions.map(_.name) == Seq("doc_a", "doc_b", "a_n", "b_n") => h
    }
    distincts.headOption
      .map(h => Map("candidates" -> h.metrics("numOutputRows").value.toDouble))
      .getOrElse(Map.empty)
  }
}
