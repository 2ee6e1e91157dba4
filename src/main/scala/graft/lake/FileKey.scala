package graft.lake

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** How a data file's path is written and compared: every coordinate
  * that names a data file goes through here.
  *
  * A file has two string forms:
  *  - its PATH form, `Path.toString` (`file:/w h/data/<uuid>/k=x%25y/f.parquet`):
  *    manifests, listings, Iceberg and Delta metadata;
  *  - its URI form, `Path.toUri.toString` (`file:/w%20h/data/<uuid>/k=x%2525y/f.parquet`):
  *    what a file-source relation reports per row in [[column]]. A
  *    space becomes `%20`, `%` (also the `%` of Spark's on-disk
  *    partition escapes) `%25` and `#` `%23`; `+` stays.
  * Under a plain root and plain partition values the two coincide.
  * Hadoop also spells an empty authority both `file:/x` and
  * `file:///x`; [[canon]] picks `file:/x`, the spelling of both
  * `Path.toString` and [[column]].
  *
  * Conversions run on the small side only: driver-known paths (roots,
  * external dirs, listed files, tasks) and delete rows. The data side
  * stays a plain [[column]] reference, so a merge-on-read anti-join
  * hashes it directly and no scan decodes a path per row.
  */
private[lake] object FileKey {
  private val EmptyAuthority = "^([a-zA-Z][a-zA-Z0-9+.-]*):///"

  /** The per-row file of a file-source relation, in URI form. Read it
    * where the relation is built; `input_file_name()` is the same
    * string with the `file:///` spelling.
    */
  def column: Column = col("_metadata.file_path")

  /** A path string from outside (a delete row) in the `file:/x`
    * spelling; a path form from the engine already has it.
    */
  def canon(path: Column): Column = regexp_replace(path, EmptyAuthority, "$1:/")

  /** URI form of `p`: the string [[column]] reports for its rows. */
  def uri(p: HPath): String = p.toUri.toString.replaceFirst(EmptyAuthority, "$1:/")

  /** The path a URI-form string names (any spelling). */
  def path(uri: String): HPath = new HPath(new java.net.URI(uri))

  private def uriPrefix(root: HPath): String = uri(root).stripSuffix("/") + "/"

  /** Delete-file key of a URI-form `file`: relative to the root's URI
    * for an owned file, which keeps the table relocatable (owned keys
    * start `data/`), and absolute for a file of an `addFiles` dir.
    */
  def relative(file: Column, root: HPath): Column = {
    val p = uriPrefix(root)
    when(file.startsWith(lit(p)), substring(file, p.length + 1, Int.MaxValue)).otherwise(file)
  }

  /** Inverse of [[relative]]: the URI form of a stored key. */
  def absolute(key: Column, root: HPath): Column =
    when(key.startsWith(lit("data/")), concat(lit(uriPrefix(root)), key)).otherwise(key)

  /** Manifest dir of a URI-form `file`: `data/<uuid>` for an owned
    * file, else the one of `external` (manifest dirs outside the root)
    * that holds it — one branch per external dir, commit-bounded.
    */
  def dirOf(file: Column, root: HPath, external: Seq[String]): Column = {
    val owned = substring(file, uriPrefix(root).length + 1, Int.MaxValue)
    external.foldLeft(substring_index(owned, "/", 2)) { (acc, d) =>
      when(file.startsWith(lit(uri(new HPath(root, d)) + "/")), lit(d)).otherwise(acc)
    }
  }

  /** Root-relative path form of `p` (`data/<uuid>/<key in dir>` for an
    * owned file); None outside `root`.
    */
  def underRoot(root: HPath, p: HPath): Option[String] = {
    val r = root.toString.stripSuffix("/") + "/"
    Some(p.toString).filter(_.startsWith(r)).map(_.substring(r.length))
  }
}
