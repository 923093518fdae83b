package graft.queries

import scala.collection.concurrent.TrieMap

/** The index fixtures the catalog queries search: one directory per
  * (kind, sf dir), built on first use and reused by every later query in
  * the JVM (the reference builds an index once per part, not per query).
  */
private[queries] object IndexFixtures {

  private val dirs = TrieMap.empty[(String, String), String]

  /** The fixture `kind` for `sfDir`: a fresh temp directory named after
    * `kind`, filled by `build` the first time it is asked for and deleted
    * when the JVM shuts down.
    */
  def dir(kind: String, sfDir: String)(build: String => Any): String =
    dirs.getOrElseUpdate((kind, sfDir), {
      val d = org.apache.spark.sql.graft.shim.createTempDir(kind).toString
      build(d)
      d
    })

  /** `prefix` plus `sfDir` with every non-alphanumeric character replaced
    * by `_`: the catalog name of one sf dir's index.
    */
  def name(prefix: String, sfDir: String): String =
    s"${prefix}_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"
}
