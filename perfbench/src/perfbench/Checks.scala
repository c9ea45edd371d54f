package perfbench

/** Output checks, each a pure function of the program's collected output
  * and the planted truth: `None` when the output is right, otherwise what
  * is wrong. Kept apart from the workloads so the self-test can feed them
  * corrupted outputs.
  */
object Checks {
  type Outcome = Option[String]

  private def diffSets[A](what: String, got: Set[A], want: Set[A]): Outcome = {
    val extra = got -- want
    val missing = want -- got
    if (extra.isEmpty && missing.isEmpty) None
    else Some(s"$what: ${extra.size} unexpected (e.g. ${extra.take(3).mkString(", ")}), " +
      s"${missing.size} missing (e.g. ${missing.take(3).mkString(", ")})")
  }

  /** Status census (N/C/I/D → rows); absent statuses count as 0. */
  def census(got: Map[String, Long], want: Map[String, Long]): Outcome = {
    val all = (got.keySet ++ want.keySet).toSeq.sorted
    val bad = all.filter(s => got.getOrElse(s, 0L) != want.getOrElse(s, 0L))
    if (bad.isEmpty) None
    else Some("census " + bad.map(s =>
      s"$s: got ${got.getOrElse(s, 0L)}, want ${want.getOrElse(s, 0L)}").mkString("; "))
  }

  /** A changeset's (status, key) rows against the planted per-status key
    * sets; N rows do not belong in a changeset.
    */
  def keySets(got: Seq[(String, Long)], want: Map[String, Set[Long]]): Outcome = {
    val byStatus = got.groupBy(_._1).map { case (s, rows) => s -> rows.map(_._2) }
    val dup = byStatus.collect { case (s, ks) if ks.size != ks.toSet.size => s }
    if (dup.nonEmpty) return Some(s"changeset repeats keys under ${dup.mkString(",")}")
    (byStatus.keySet ++ want.keySet).toSeq.sorted.iterator.map { s =>
      diffSets(s"changeset keys '$s'", byStatus.getOrElse(s, Nil).toSet,
        want.getOrElse(s, Set.empty))
    }.collectFirst { case Some(m) => m }
  }

  /** Multiset equality by (row count, order-free row hash). */
  def fingerprint(got: (Long, Long), want: (Long, Long)): Outcome =
    if (got == want) None
    else Some(s"applied changeset != right: (rows, hash) got $got, want $want")

  final case class ReportRow(table: String, kind: String, item: String, n: Option[Long],
                             verdict: String)

  final case class TableTruth(census: Map[String, Long], keys: Seq[String], verdict: String)

  /** One table's rows of a catalog sweep report: exactly the four census
    * rows with the planted counts, no error or schema rows, and the
    * planted verdict on every row.
    */
  def reportTable(rows: Seq[ReportRow], table: String, want: TableTruth): Outcome = {
    val mine = rows.filter(_.table == table)
    val census = mine.filter(_.kind == "census")
    val other = mine.filterNot(_.kind == "census")
    if (other.nonEmpty) Some(s"$table: unexpected report rows ${other.take(3).mkString("; ")}")
    else if (census.map(_.item).sorted != Seq("C", "D", "I", "N"))
      Some(s"$table: census rows ${census.map(_.item).sorted.mkString(",")}, want C,D,I,N")
    else if (census.exists(_.verdict != want.verdict))
      Some(s"$table: verdict ${census.map(_.verdict).distinct.mkString(",")}, want ${want.verdict}")
    else Checks.census(census.map(r => r.item -> r.n.getOrElse(-1L)).toMap, want.census)
      .map(m => s"$table: $m")
  }

  def electedKey(got: Option[Seq[String]], table: String, want: Seq[String]): Outcome =
    if (got.contains(want)) None
    else Some(s"$table: elected key $got, want $want")

  def docsLoaded(got: Long, want: Long): Outcome =
    if (got == want) None else Some(s"cached table holds $got docs, want $want")

  def pairs(got: Seq[(Long, Long)], want: Set[(Long, Long)]): Outcome =
    if (got.size != got.toSet.size) Some("exact pairs: duplicate pair rows")
    else diffSets("exact pairs", got.toSet, want)

  /** LSH pairs are verified, so they must be planted pairs; and they must
    * find at least `floor` of the planted pairs.
    */
  def lsh(got: Seq[(Long, Long)], want: Set[(Long, Long)], floor: Double): Outcome = {
    val g = got.toSet
    val extra = g -- want
    val recall = if (want.isEmpty) 1.0 else (g intersect want).size.toDouble / want.size
    if (got.size != g.size) Some("lsh pairs: duplicate pair rows")
    else if (extra.nonEmpty) Some(s"lsh pairs: ${extra.size} not planted (e.g. ${extra.head})")
    else if (recall < floor) Some(f"lsh recall $recall%.4f below floor $floor%.4f")
    else None
  }

  def clusters(got: Seq[(Long, Long)], want: Map[Long, Long]): Outcome =
    if (got.size != got.map(_._1).distinct.size) Some("clusters: a vertex has two labels")
    else diffSets("cluster labels", got.toSet, want.toSet)
}
