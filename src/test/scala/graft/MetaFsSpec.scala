package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}

import graft.table.MetaFs
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/**
 * MetaFs is the engine's only metadata-publish primitive: `claim` is
 * create-once (a rename would silently replace the first writer's file),
 * `replace` is last-writer-wins, and neither leaves temp files behind. The
 * last case keeps the hand-rolled idioms from growing back elsewhere.
 */
class MetaFsSpec extends AnyFunSuite {

  private def names(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("claim of an existing name returns false and keeps the first content") {
    val dir = Files.createTempDirectory("graft-metafs-claim-")
    val p = dir.resolve("rec.json")
    assert(MetaFs.claim(p, "first".getBytes(UTF_8)))
    assert(!MetaFs.claim(p, "second".getBytes(UTF_8)))
    assert(Files.readAllBytes(p).sameElements("first".getBytes(UTF_8)))
    assert(names(dir) == Set("rec.json"), "claim left a temp file behind")
  }

  test("16 threads claiming one name: exactly one wins, its bytes land") {
    val dir = Files.createTempDirectory("graft-metafs-race-")
    val p = dir.resolve("v1.json")
    val n = 16
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val winners = new ConcurrentLinkedQueue[Int]()
    val errs = new ConcurrentLinkedQueue[Throwable]()
    (0 until n).foreach { i =>
      pool.execute { () =>
        start.await()
        try if (MetaFs.claim(p, s"writer-$i".getBytes(UTF_8))) winners.add(i)
        catch { case t: Throwable => errs.add(t) }
        ()
      }
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    assert(errs.isEmpty, s"a claimer threw: ${errs.peek()}")
    assert(winners.size == 1, s"winners: ${winners.asScala.toSeq}")
    assert(new String(Files.readAllBytes(p), UTF_8) == s"writer-${winners.peek()}")
    assert(names(dir) == Set("v1.json"), "a claimer left a temp file behind")
  }

  test("replace over an existing file swaps the content, leaves no temp") {
    val dir = Files.createTempDirectory("graft-metafs-replace-")
    val p = dir.resolve("CURRENT")
    MetaFs.replace(p, "1".getBytes(UTF_8))
    MetaFs.replace(p, "2".getBytes(UTF_8))
    assert(new String(Files.readAllBytes(p), UTF_8) == "2")
    assert(names(dir) == Set("CURRENT"))
  }

  test("versions lists <prefix><N>.json ascending, skipping everything else") {
    val dir = Files.createTempDirectory("graft-metafs-versions-")
    Seq("snap-10.json", "snap-2.json", "snap-3.json.tmp-abcd1234",
      "snap-x.json", "manifest-2-ab.json", "CURRENT")
      .foreach(n => Files.write(dir.resolve(n), Array.emptyByteArray))
    assert(MetaFs.versions(dir, "snap-") == Seq(2L, 10L))
    assert(MetaFs.versions(dir.resolve("absent"), "snap-") == Nil)
  }

  /** Files under src/main/scala other than `owner` whose source contains
   * any of `needles`. */
  private def offenders(owner: String, needles: String*): List[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd has no $root)")
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft", "table", owner)))
      .filter { f =>
        val src = new String(Files.readAllBytes(f), UTF_8)
        needles.exists(src.contains)
      }.map(root.relativize(_).toString).toList
    finally s.close()
  }

  test("ATOMIC_MOVE and CREATE_NEW appear only in table/MetaFs.scala") {
    val bad = offenders("MetaFs.scala", "ATOMIC_MOVE", "CREATE_NEW")
    assert(bad.isEmpty, s"publish metadata through graft.table.MetaFs, not by hand: $bad")
    // the version-chain rule lives in one module: only MetaLog names the
    // files it starts its head lookup from
    val hint = offenders("MetaLog.scala", "\"CURRENT\"", "\"HINT\"", "\"FLOOR\"")
    assert(hint.isEmpty, s"read and write version chains through graft.table.MetaLog: $hint")
  }
}
