package graft.tools

import graft.SparkEntry

/** The registry keys a diagnostic tool runs for a comma-separated list of
  * query numbers (`q26,q227`) or full keys: each entry selects the ONE
  * query whose number — the key up to its `_`, unique per number by the
  * `qNN_name` convention — is the entry's, so `q26` selects
  * `q26_dedup_exact` and never `q260`–`q262`. An entry no query carries
  * fails, naming it.
  */
private[graft] object QuerySelect {
  def apply(list: String): Seq[String] = {
    val keys = SparkEntry.queries.keys
    list.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { q =>
      val num = q.takeWhile(_ != '_')
      val hit = keys.find(_.takeWhile(_ != '_') == num)
      require(hit.nonEmpty, s"no query numbered $num")
      hit.get
    }
  }

  /** The keys `SPARK_GRAFT_ONLY` selects (the dev filter of [[graft.Bench]]
    * and [[graft.Verify]]), or None when it is unset: the full registry.
    */
  def fromEnv(): Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(apply(_).toSet)
}
