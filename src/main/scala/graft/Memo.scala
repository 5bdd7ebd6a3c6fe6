package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** The one memo of values derived from lake paths, and the one rule for
  * when such a value is still valid.
  *
  * An entry is keyed by what was derived, the source paths it was
  * derived from and, for a value bound to a session (a DataFrame), that
  * session. It is served while [[Lake.fingerprint]] of its source paths
  * is the one it was derived under. A changed fingerprint (a lake
  * regenerated at the same path) derives the value again and replaces
  * the entry in place, so a path mutated N times holds one entry.
  *
  * A catalog shares one relation, one schema or one staged layout across
  * queries; this is the path-based equivalent. A lookup costs one
  * fingerprint walk of the source paths. Entries are never evicted.
  */
object Memo {

  private final case class Key(what: String, srcs: Seq[String], session: Option[SparkSession])

  // key → (the sources' fingerprints when the value was derived, value)
  private val entries = TrieMap.empty[Key, (String, Any)]

  /** The value `derive` gives for `what` over `srcs` (and `session`,
    * when the value is bound to one), derived again only once the
    * sources' fingerprint changes.
    */
  def apply[T](what: String, srcs: Seq[String], session: SparkSession = null)(derive: => T): T =
    withToken(what, srcs, session)(_ => derive)

  /** As [[apply]], for a value derived from the validity token itself
    * (a staged layout's content-addressed directory).
    */
  def withToken[T](what: String, srcs: Seq[String], session: SparkSession = null)(
      derive: String => T): T = {
    val key = Key(what, srcs, Option(session))
    // taken before the value is derived, so a source that changes
    // meanwhile leaves an entry whose token is already stale
    val tok = srcs.map(Lake.fingerprint).mkString(",")
    entries.get(key) match {
      case Some((`tok`, v)) => v.asInstanceOf[T]
      case _ =>
        val v = derive(tok)
        entries(key) = (tok, v)
        v
    }
  }

  /** Entries held for `what` over `srcs`, across sessions. */
  private[graft] def entriesFor(what: String, srcs: Seq[String]): Int =
    entries.keys.count(k => k.what == what && k.srcs == srcs)
}
