package graft.table

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, StandardCopyOption}
import java.util.UUID

/**
 * The one way this engine publishes a metadata file. Every publish writes
 * the full content to a sibling temp file (`<name>.tmp-<uuid8>`) first, so a
 * reader sees the target either complete or absent — never torn.
 *
 *  - [[claim]]: create-once. The temp is HARD-LINKED to the target; link(2)
 *    fails atomically with EEXIST when the name exists, so of N racing
 *    claimers exactly one wins and the first content is never replaced.
 *    [[MetaLog]] records (snapshots, refs versions), branch records and
 *    lineage files use it.
 *  - [[replace]]: last writer wins. The temp is renamed over the target
 *    (rename(2) replaces atomically). The [[MetaLog]] hint and floor, the
 *    partition spec, the sort order, checkpoint markers and payloads, and
 *    mutable records use it.
 *  - [[moveInto]]: a file or directory built aside is renamed into place
 *    (bloom shards and their part files).
 *
 * A rename is NOT a claim: on POSIX `rename` silently replaces an existing
 * target, `ATOMIC_MOVE` without `REPLACE_EXISTING` included. Temp names
 * never end in `.json`, so the directory listers skip an in-flight publish.
 */
object MetaFs {

  private def tempFor(target: Path): Path =
    target.resolveSibling(
      s"${target.getFileName}.tmp-${UUID.randomUUID().toString.take(8)}")

  private val TempName = """(.+)\.tmp-[0-9a-f]{8}""".r

  /** The target a publish temp (`<name>.tmp-<uuid8>`) is for: an in-flight
   * publish, or debris of a crash between its write and its link or rename. */
  def tempTarget(fileName: String): Option[String] = fileName match {
    case TempName(target) => Some(target)
    case _ => None
  }

  def isTemp(fileName: String): Boolean = tempTarget(fileName).nonEmpty

  /** Publish `bytes` at `target` iff nothing is there yet and `ready`, asked
   * once the temp is written, holds. False when another writer holds the
   * name (its content is left untouched), `ready` fails, or the temp was
   * deleted before its link (which cancels an in-flight claim). */
  def claim(target: Path, bytes: Array[Byte], ready: () => Boolean = () => true): Boolean = {
    if (Files.exists(target)) return false // cheap early-out for a loser
    val tmp = tempFor(target)
    Files.write(tmp, bytes)
    try ready() && {
      Files.createLink(target, tmp)
      true
    } catch {
      case _: FileAlreadyExistsException | _: NoSuchFileException => false
    } finally {
      Files.deleteIfExists(tmp)
      ()
    }
  }

  /** Publish `bytes` at `target`, replacing any previous content. */
  def replace(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = tempFor(target)
    Files.write(tmp, bytes)
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch {
      case e: java.io.IOException =>
        Files.deleteIfExists(tmp)
        throw e
    }
    ()
  }

  /** Move `built`, a file or directory written aside, to `target` in one
   * atomic rename, replacing a file there (a directory `target` must be
   * absent). Bloom shards and their part files publish this way. */
  def moveInto(built: Path, target: Path): Unit = {
    Files.move(built, target, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** The N of every `<prefix><N>.json` in `dir`, ascending (empty when the
   * directory does not exist). */
  def versions(dir: Path, prefix: String): Seq[Long] = {
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try {
      val out = scala.collection.mutable.ArrayBuffer[Long]()
      val it = s.iterator()
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        if (n.startsWith(prefix) && n.endsWith(".json"))
          n.substring(prefix.length, n.length - 5).toLongOption.foreach(out += _)
      }
      out.sorted.toSeq
    } finally s.close()
  }

  /** Delete `d` and everything under it; an absent `d` is fine. */
  def deleteTree(d: Path): Unit = if (Files.exists(d)) {
    val w = Files.walk(d)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
    finally w.close()
  }
}
