package graft

/** Name selection shared by the mains' lane and query filters. */
object Selection {

  /** The `names` containing at least one of `patterns`, in `names` order;
    * every name when `patterns` is empty. Throws, naming each pattern that
    * matches no name, so a typo fails before any work starts instead of
    * running (and reporting) an empty selection.
    */
  def select(names: Seq[String], patterns: Seq[String]): Seq[String] = {
    val unmatched = patterns.filterNot(p => names.exists(_.contains(p)))
    require(unmatched.isEmpty,
      s"no entry matches: ${unmatched.mkString(", ")}")
    if (patterns.isEmpty) names
    else names.filter(n => patterns.exists(n.contains))
  }
}
