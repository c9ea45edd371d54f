package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** A documents-shaped corpus with planted near-duplicate clusters. A doc is
  * a set of stop words (shared by many docs), mid-frequency words and rare
  * words. A cluster starts from one base doc; each further member drops and adds
  * at most two rare words, so every pair inside a cluster keeps token
  * Jaccard >= [[NearDupCorpus.MinJaccard]]. [[Corpus.generate]] checks in
  * plain Scala that every intra-cluster pair reaches the threshold and every
  * other pair falls below it, and redraws until both hold.
  */
final case class Corpus(docs: Seq[(Long, String, Array[Int])], clusters: Seq[Seq[Long]],
                        pairJaccard: Map[(Long, Long), Double]) {
  /** Every intra-cluster pair, (smaller id, larger id). */
  def pairs: Set[(Long, Long)] = pairJaccard.keySet
  /** Each doc's cluster label: the smallest id in its cluster. */
  def labels: Map[Long, Long] = {
    val inCluster = clusters.flatMap(c => c.map(_ -> c.min)).toMap
    docs.map { case (id, _, _) => id -> inCluster.getOrElse(id, id) }.toMap
  }
  def text(tokens: Array[Int]): String = tokens.map(Corpus.word).mkString(" ")
}

object Corpus {
  import Rng.{h, below}
  val Stop = 40
  val Mid = 3000
  val Langs = Array("en", "de", "fr", "es")

  /** Token ids: [0, Stop) stop words, [Stop, Stop + Mid) mid words, the
    * rest rare words (drawn from a space large enough that two rare draws
    * rarely meet).
    */
  def word(t: Int): String =
    if (t < Stop) s"s$t" else if (t < Stop + Mid) s"m${t - Stop}"
    else "r" + java.lang.Integer.toString(t, 36)

  def jaccard(a: Array[Int], b: Array[Int]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1 else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  def generate(seed: Long, pass: Int, n: Int, tau: Double): Corpus =
    Iterator.from(0).map(attempt => draw(seed, pass, attempt, n))
      .flatMap(verify(_, tau, h(seed, pass))).next()

  private def draw(seed: Long, pass: Int, attempt: Int, n: Int): (Seq[Array[Int]], Seq[Seq[Int]], Array[Int]) = {
    def r(xs: Long*) = h(seed, (Seq[Long](pass, attempt) ++ xs): _*)
    def rare(xs: Long*) = Stop + Mid + below(r(xs: _*), Int.MaxValue - Stop - Mid)
    val sets = mutable.ArrayBuffer.empty[Array[Int]]
    val clusters = mutable.ArrayBuffer.empty[Seq[Int]]
    val lang = mutable.ArrayBuffer.empty[Int]
    def base(i: Long): Array[Int] = {
      val stop = (0 until 4 + below(r(i, 1), 5)).map(j => below(r(i, 2, j), Stop))
      val mid = (0 until 8 + below(r(i, 3), 5)).map(j => Stop + below(r(i, 4, j), Mid))
      val rares = (0 until 18 + below(r(i, 5), 8)).map(j => rare(i, 6, j))
      (stop ++ mid ++ rares).distinct.sorted.toArray
    }
    var i = 0L
    while (sets.size < n) {
      val b = base(i)
      val l = below(r(i, 7), Langs.length)
      // every fifth base seeds a cluster of 2..5 members, so every corpus
      // has the same cluster layout and only the words vary with the seed
      val size = if (i % 5 == 0) math.min(2 + (i / 5 % 4).toInt, n - sets.size) else 1
      val members = (0 until size).map { m =>
        if (m == 0) b
        else {
          val rs = b.filter(_ >= Stop + Mid)
          val drop = (0 until below(r(i, 10, m), 3)).map(j => rs(below(r(i, 11, m, j), rs.length))).toSet
          val add = (0 until below(r(i, 12, m), 3)).map(j => rare(i, 13, m, j))
          (b.filterNot(drop) ++ add).distinct.sorted
        }
      }
      if (size > 1) clusters += (sets.size until sets.size + size)
      members.foreach { s => sets += s; lang += l }
      i += 1
    }
    (sets.toSeq, clusters.toSeq, lang.toArray)
  }

  /** The corpus if its planted structure holds exactly, else None. */
  private def verify(d: (Seq[Array[Int]], Seq[Seq[Int]], Array[Int]), tau: Double,
                     idSeed: Long): Option[Corpus] = {
    val (sets, clusters, lang) = d
    val n = sets.size
    // Pairs sharing only stop words cannot reach tau: bound it, then
    // compute exact Jaccard for every pair sharing a non-stop word.
    val maxStop = sets.map(_.count(_ < Stop)).max
    val minSize = sets.map(_.length).min
    if (maxStop.toDouble / (2 * minSize - maxStop) >= tau) return None
    val postings = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
    for (i <- 0 until n; t <- sets(i) if t >= Stop)
      postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += i
    val shared = mutable.Set.empty[Long]
    for (docs <- postings.values; a <- docs.indices; b <- a + 1 until docs.size)
      shared += docs(a).toLong * n + docs(b)
    val above = shared.iterator.map(x => ((x / n).toInt, (x % n).toInt))
      .filter { case (a, b) => jaccard(sets(a), sets(b)) >= tau }.toSet
    val planted = clusters.flatMap(c => for (a <- c; b <- c if a < b) yield (a, b)).toSet
    if (above != planted) None
    else {
      // ids are a seeded permutation, so clusters do not sit in id runs
      val order = (0 until n).sortBy(i => h(idSeed, i))
      val id = Array.fill(n)(0L)
      order.zipWithIndex.foreach { case (i, rank) => id(i) = rank + 1L }
      Some(Corpus(
        (0 until n).map(i => (id(i), Langs(lang(i)), sets(i))),
        clusters.map(_.map(id(_))),
        planted.iterator.map { case (a, b) =>
          (math.min(id(a), id(b)), math.max(id(a), id(b))) -> jaccard(sets(a), sets(b))
        }.toMap))
    }
  }
}

/** `near_dup_corpus`: each pass dedups a fresh corpus stored as one parquet
  * shard with one row group: cached load, exact prefix-filtered pairs,
  * banded MinHash-LSH pairs, then connected components over the exact
  * pairs.
  */
final class NearDupCorpus(val spark: SparkSession, work: Path, seed: Long, small: Boolean)
    extends Workload {
  import NearDupCorpus._

  private val nDocs = if (small) 300 else 1200
  val layers = Seq("Tables.cachedTable", "TextOps.nearDupPairs", "TextOps.minHashLshPairs",
    "GraphOps.connectedComponents")

  private def dir(p: Int) = Fs.path(work, "corpus", s"p$p")
  private val corpus = mutable.Map.empty[Int, Corpus]
  private val out = mutable.Map.empty[Int, Outputs]

  /** What pass `p`'s timed calls returned: the row count of the frame
    * `Tables.cachedTable` gave, the LSH pairs and the cluster labels. The
    * exact pairs are read back from parquet after the clock stops.
    */
  final case class Outputs(loaded: Long, lsh: Seq[(Long, Long)], labels: Seq[(Long, Long)])

  def prepare(): Unit = ()

  def generate(p: Int): Unit = {
    val c = Corpus.generate(seed, p, nDocs, MinJaccard)
    corpus(p) = c
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    val rows = c.docs.sortBy(_._1).map { case (id, l, toks) =>
      // word order within a doc is shuffled; the set is what matters
      Row(id, l, c.text(toks.sortBy(t => Rng.h(seed, p, id, t))))
    }
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(Fs.path(work, "corpus", s"p$p", "docs.parquet"))
  }

  private def pairsOf(rows: Array[Row]): Seq[(Long, Long)] =
    rows.toSeq.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))

  def run(p: Int, tr: Tracer): Unit = {
    var loaded = -1L
    val docs = tr.call("Tables.cachedTable", p)(graft.Tables.cachedTable(spark, dir(p), "docs")) {
      d => loaded = d.count(); d
    }
    val pairsDir = Fs.path(work, "corpus", s"p$p", "pairs")
    tr.call("TextOps.nearDupPairs", p)(graft.Graft.nearDupPairs(docs, MinJaccard))(
      _.write.parquet(pairsDir))
    val lsh = tr.call("TextOps.minHashLshPairs", p)(
      graft.Graft.nearDupPairsLsh(docs, MinJaccard, Bands)) { d => tr.watch(d, s"lsh$p"); d.collect() }
    val labels = tr.call("GraphOps.connectedComponents", p)(graft.Graft.dedupClusters(
      docs.select(col("doc_id").as("id")),
      spark.read.parquet(pairsDir).select(col("doc_a").as("src"), col("doc_b").as("dst"))))(
      _.collect())
    out(p) = Outputs(loaded, pairsOf(lsh),
      labels.toSeq.map(r => (r.getAs[Long]("id"), r.getAs[Long]("cluster"))))
  }

  def outputs(p: Int): Outputs = out(p)
  def exactPairs(p: Int): Seq[(Long, Long)] =
    pairsOf(spark.read.parquet(Fs.path(work, "corpus", s"p$p", "pairs")).collect())

  /** The recall banded LSH must reach. Each planted pair of Jaccard J is
    * found with probability 1 - (1 - J)^bands (one MinHash per band), so
    * the expected number of misses is m = sum of (1 - J)^bands; the floor
    * allows m + 8 sqrt(m) + 10 misses, a Poisson tail so far out that no
    * seed of a correct LSH falls below it, while a kernel that loses a
    * real share of the pairs still does.
    */
  def lshFloor(p: Int): Double = {
    val js = corpus(p).pairJaccard.values
    val m = js.map(j => math.pow(1 - j, Bands)).sum
    if (js.isEmpty) 0.0 else 1 - (m + 8 * math.sqrt(m) + 10) / js.size
  }

  def check(p: Int): Seq[(String, Checks.Outcome)] = {
    val o = outputs(p)
    val c = corpus(p)
    Seq(
      "docs_loaded" -> Checks.docsLoaded(o.loaded, c.docs.size),
      "exact_pairs" -> Checks.pairs(exactPairs(p), c.pairs),
      "lsh_pairs" -> Checks.lsh(o.lsh, c.pairs, lshFloor(p)),
      "clusters" -> Checks.clusters(o.labels, c.labels))
  }

  def planted(p: Int): Corpus = corpus(p)
  def lshPairs(p: Int): Int = out(p).lsh.size

  def rows(p: Int): Long = nDocs.toLong
}

object NearDupCorpus {
  val MinJaccard = 0.7
  val Bands = 4
}
