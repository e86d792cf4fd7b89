package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Store accounting from outside the program: a directory walk for bytes,
  * files and Hive partition directories, and the counters the program writes
  * into its snapshot manifests. */
object StoreStats {

  final case class Usage(bytes: Long, files: Long, partitionDirs: Long)

  def usage(dir: String): Usage = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Usage(0, 0, 0)
    else scala.util.Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.foldLeft(Usage(0, 0, 0)) { (u, p) =>
        if (Files.isRegularFile(p)) u.copy(bytes = u.bytes + Files.size(p), files = u.files + 1)
        else if (p != root && p.getFileName.toString.contains("=")) u.copy(partitionDirs = u.partitionDirs + 1)
        else u
      }
    }
  }

  private val Counter = """"([A-Za-z0-9_]+)":(-?\d+)""".r

  /** Integer counters of one manifest (the `counters` object and the
    * top-level integer fields such as `row_count`). */
  def counters(manifest: String): Map[String, Long] =
    Counter.findAllMatchIn(manifest).map(m => m.group(1) -> m.group(2).toLong).toMap

  /** Depth of the streaming state's log read window: the number of committed
    * snapshots a reader unions, counted from the oldest per-rotation-group
    * latest full write. The first snapshot is a full write of every group;
    * a `compacted` stamp covers all groups; a `compact_group` stamp covers
    * its own group. */
  def logWindow(manifests: Seq[(Long, String)], compactEvery: Int): Int =
    if (manifests.isEmpty) 0
    else {
      val latest = Array.fill(compactEvery)(manifests.head._1)
      manifests.foreach { case (id, m) =>
        val c = counters(m)
        if (c.get("compacted").contains(1L)) java.util.Arrays.fill(latest, id)
        else c.get("compact_group").filter(_ < compactEvery).foreach(g => latest(g.toInt) = id)
      }
      val from = latest.min
      manifests.count(_._1 >= from)
    }

  def deleteRecursively(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) scala.util.Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.toVector.reverse.foreach((p: Path) => Files.deleteIfExists(p))
    }
  }
}
