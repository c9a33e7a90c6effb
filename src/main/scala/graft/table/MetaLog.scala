package graft.table

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Path}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import com.fasterxml.jackson.core.JsonToken

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

/**
 * The one version chain, `<dir>/<prefix><N>.json` with contiguous N, one
 * per directory: every snapshot log (a branch's starts at its fork id) and
 * the refs log. A won [[MetaFs.claim]] of `<prefix><parent+1>.json` IS the
 * commit. Two small files only speed up [[head]], which stats forward from
 * the higher of them:
 *  - `HINT`, a recently committed version, written by committers; it may
 *    lag, and a committer that stalls before its write may set it back;
 *  - `FLOOR`, written only by [[retire]]: the head when it was written, so
 *    above every retired version. No gap lies between it and the head.
 * Each record opens with a random `nonce` and its parent's `parentNonce`.
 * Retiring a version frees its name; [[append]] refuses a stale writer's
 * claim of one (a ghost) by the floor and by parent identity.
 *
 * A log last written before `HINT` existed has only `CURRENT`, which its
 * writer kept at the head; the first append here replaces it with `HINT`.
 * The upgrade is one-way: a binary that predates `HINT` finds no `CURRENT`,
 * reads the table as empty and deletes no snapshot; it must not commit.
 */
final class MetaLog(val dir: Path, prefix: String) {

  private val hintPath = dir.resolve("HINT")
  private val floorPath = dir.resolve("FLOOR")
  private val legacyHintPath = dir.resolve("CURRENT")

  def path(v: Long): Path = dir.resolve(s"$prefix$v.json")

  /** Every version present, ascending (a directory listing). */
  def versions: Seq[Long] = MetaFs.versions(dir, prefix)

  def read(v: Long): Array[Byte] = Files.readAllBytes(path(v))

  private def readLong(p: Path): Option[Long] =
    try new String(Files.readAllBytes(p), UTF_8).trim.toLongOption
    catch { case _: NoSuchFileException => None }

  private def floor: Option[Long] = readLong(floorPath)

  private def seam(hooks: ConcurrentHashMap[Path, Long => Unit], v: Long): Unit =
    Option(hooks.get(dir)).foreach(_(v))

  /** The newest committed version (None: an empty log). */
  def head: Option[Long] =
    (readLong(hintPath).orElse(readLong(legacyHintPath)) ++ floor).maxOption
      .filter(v => Files.exists(path(v))) match {
      case Some(h) =>
        var v = h
        while (Files.exists(path(v + 1))) v += 1
        Some(v)
      case None => versions.lastOption
    }

  /** The head and its bytes; a head [[retire]] took before the read is
   * read again. */
  @tailrec def latest: Option[(Long, Array[Byte])] = head match {
    case None => None
    case Some(v) =>
      (try Some(read(v)) catch { case _: NoSuchFileException => None }) match {
        case Some(bytes) => Some(v -> bytes)
        case None => latest
      }
  }

  /** Record `v`'s nonce: "" when it predates nonces, null when it is absent. */
  def nonce(v: Long): String =
    try MetaLog.nonceOf(read(v)) catch { case _: NoSuchFileException => null }

  /** Commit `bytes` (a JSON object) as version `parent + 1` on the parent
   * whose [[nonce]] the writer read (null: none, as for a first record).
   * False, publishing nothing, when that parent is gone or changed, the
   * floor is above it, or another writer claimed `parent + 1` first.
   *
   * The floor is read after the claim's temp is written, and [[retire]]
   * lists temps after it raises the floor: a claim of a retired name either
   * reads the raised floor or has its temp deleted before its link. */
  def append(parent: Long, parentNonce: String, bytes: Array[Byte]): Boolean = {
    require(bytes.headOption.contains('{'.toByte), "a log record is a JSON object")
    val v = parent + 1
    val stamp = s"""{"nonce":"${UUID.randomUUID()}","parentNonce":"${
      Option(parentNonce).getOrElse("")}"${if (bytes(1) == '}') "" else ","}"""
    val won = MetaFs.claim(path(v), stamp.getBytes(UTF_8) ++ bytes.drop(1), () => {
      val onChain = nonce(parent) == parentNonce && floor.forall(_ <= parent)
      seam(MetaLog.beforeLink, v)
      onChain
    })
    if (won) {
      seam(MetaLog.afterClaim, v)
      // a late write that sets the hint back is harmless: head starts at
      // the floor or above
      if (readLong(hintPath).forall(_ <= v - MetaLog.HintLag)) {
        MetaFs.replace(hintPath, v.toString.getBytes(UTF_8))
        Files.deleteIfExists(legacyHintPath)
      }
    }
    won
  }

  /** Delete versions `vs`, never the head. A floor not above them is first
   * raised to the head, then every in-flight claim of one of their names
   * is cancelled (its temp deleted) and the versions are deleted. Two
   * retires that overlap can set the floor back; that hides the head only
   * when the stale floor names a kept version below a retired one, so
   * expiry runs of one table must not overlap (refs retire a prefix). */
  def retire(vs: Seq[Long]): Unit = if (vs.nonEmpty) {
    if (floor.forall(_ <= vs.max)) {
      val top = versions.last // a listing: right even if a retire raced this one
      require(top > vs.max, s"$dir: retire never deletes the head")
      MetaFs.replace(floorPath, top.toString.getBytes(UTF_8))
    }
    val names = vs.map(v => path(v).getFileName.toString).toSet
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => MetaFs.tempTarget(p.getFileName.toString).exists(names))
      .foreach(Files.deleteIfExists(_))
    finally s.close()
    vs.foreach(v => Files.deleteIfExists(path(v)))
    seam(MetaLog.afterRetire, vs.max)
  }
}

object MetaLog {

  /** Versions a hint may lag before a committer rewrites it: a rewrite (a
   * rename over the old hint) takes ~150 µs, a stat in [[head]] ~2 µs
   * (ext4, 4-vCPU VM). */
  val HintLag = 8

  /** The `nonce` field a record opens with ("" when it has none). */
  def nonceOf(bytes: Array[Byte]): String = {
    val p = Json.mapper.getFactory.createParser(bytes)
    try {
      if (p.nextToken() == JsonToken.START_OBJECT && p.nextFieldName() == "nonce")
        p.nextTextValue()
      else ""
    } finally p.close()
  }

  /** Fault-injection seams, keyed by log directory and called with the
   * version a writer is claiming: between its checks and its link, and
   * after a won claim, before the hint write; and with the newest retired
   * version once [[MetaLog.retire]] has deleted its versions. */
  private[graft] val beforeLink = new ConcurrentHashMap[Path, Long => Unit]()
  private[graft] val afterClaim = new ConcurrentHashMap[Path, Long => Unit]()
  private[graft] val afterRetire = new ConcurrentHashMap[Path, Long => Unit]()
}
