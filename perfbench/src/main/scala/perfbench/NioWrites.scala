package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Engine writes that bypass Hadoop's `FileSystem`, so CountingFs never
  * sees them. On the `file` scheme the lake's local commit arbiter
  * publishes every manifest through java.nio: it creates a claim file,
  * writes the manifest to a temp file, hard-links that to the
  * manifest's name and deletes the claim and the temp file. The
  * watermark store replaces a watermark by writing a temp file and
  * moving it into place.
  *
  * They are counted from outside. A scan of the workload's directory
  * finds every manifest (`*.json` under `_versions`, `_refs`, `_staged`
  * or `_branches`) and every `*.watermark` file that is new or was
  * rewritten since the last scan, and adds the calls and bytes that
  * write implies: per manifest two creates, two deletes and its bytes;
  * per watermark one create, one rename and its bytes. Scans run around
  * every measured window, after every op and before any step that
  * deletes manifests, so no manifest is made and removed unseen. A
  * watermark rewritten twice between two scans counts once.
  */
final class NioWrites {
  private val seen = mutable.HashMap.empty[Path, FileTime]
  private val totals = mutable.LinkedHashMap(
    "create" -> 0L, "delete" -> 0L, "rename" -> 0L, "bytes_written" -> 0L)

  def snapshot(): Map[String, Long] = totals.toMap

  def scan(root: Path): Unit =
    if (Files.isDirectory(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        val name = f.getFileName.toString
        val manifest = name.endsWith(".json") && NioWrites.MetaDirs.exists(d => f.toString.contains(d))
        val watermark = name.endsWith(".watermark")
        if (manifest || watermark) {
          val m = Files.getLastModifiedTime(f)
          if (!seen.get(f).contains(m)) {
            seen(f) = m
            totals("create") += (if (manifest) 2 else 1)
            if (manifest) totals("delete") += 2 else totals("rename") += 1
            totals("bytes_written") += Files.size(f)
          }
        }
      } finally st.close()
    }
}

object NioWrites {
  private val MetaDirs = Seq("/_versions/", "/_refs/", "/_staged/", "/_branches/")
}
