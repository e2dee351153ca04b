package graft.sources

/** Collection-name ⇄ path-segment codec for the MANIFEST layout,
  * which hand-builds every path it writes and reads.
  *
  * Names come from arbitrary ingest JSON (the reference's
  * `collection_name` field, main.go:300): escape them exactly the way
  * partitioned writes escape partition values, so '%', '/', ':' or '='
  * in a name neither corrupts the layout nor silently reads back as a
  * different collection (Spark partition discovery URL-decodes
  * directory names on read).
  *
  * On top of the partition escape, the TRAVERSAL names must be
  * neutralized: `ExternalCatalogUtils.escapePathName` passes '.'
  * through, so a collection literally named ".." would resolve
  * `_manifest/..` to the TABLE ROOT and "." would alias `_manifest`
  * itself — a hostile name could plant pointer files outside the
  * manifest tree (a `collection=<c>` data dir is shielded by its
  * prefix; the bare `_manifest/<c>` dir is not). Dot-only names are
  * percent-encoded ("." → "%2E", ".." → "%2E%2E"), which round-trips
  * through the same unescape and cannot collide with a user name
  * ("%2E" the literal escapes to "%252E"). The empty name — not a
  * path segment at all — is rejected loud at every entry point. */
private[sources] object PathNames {
  def esc(c: String): String = {
    require(c.nonEmpty, "collection name must be non-empty")
    if (c.forall(_ == '.')) c.flatMap(_ => "%2E")
    else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(c)
  }

  def unesc(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(s)
}
