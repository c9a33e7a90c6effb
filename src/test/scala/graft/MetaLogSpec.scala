package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.ops.{ExpireSnapshots, Refs, RefsFile, RemoveOrphans}
import graft.table.{ConcurrentCommitException, Evolution, Json, MetaFs, MetaLog, MetaStore}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/**
 * MetaLog is the one version chain: a won claim is the commit, HINT and
 * FLOOR only say where to start looking for the head, and a ghost claim of
 * a retired name is refused. Snapshot logs and the refs log both run on it.
 */
class MetaLogSpec extends AnyFunSuite {

  private def rec(s: String): Array[Byte] = s"""{"v":"$s"}""".getBytes(UTF_8)

  private def hint(dir: Path): Path = dir.resolve("HINT")

  /** Run `body` with `hook` installed at `seam` for `dir`'s log. */
  private def withSeam[T](seam: java.util.concurrent.ConcurrentHashMap[Path, Long => Unit],
                          dir: Path, hook: Long => Unit)(body: => T): T = {
    seam.put(dir, hook)
    try body finally seam.remove(dir)
  }

  /** `hook` runs after each won claim, before its hint write. */
  private def withAfterClaim[T](dir: Path)(hook: Long => Unit)(body: => T): T =
    withSeam(MetaLog.afterClaim, dir, hook)(body)

  /** `hook` runs between each claim's checks and its link. */
  private def withBeforeLink[T](dir: Path)(hook: Long => Unit)(body: => T): T =
    withSeam(MetaLog.beforeLink, dir, hook)(body)

  test("head steps forward from a stale hint and lists only without a usable one") {
    val dir = Files.createTempDirectory("graft-metalog-head-")
    val log = new MetaLog(dir, "r-")
    assert(log.head.isEmpty)
    def hinted = new String(Files.readAllBytes(hint(dir)), UTF_8).toLong
    assert(log.append(0L, null, rec("a")))
    assert(log.append(1L, log.nonce(1L), rec("b")))
    // the first version is hinted; later ones once the hint lags HintLag
    assert(hinted == 1L && log.head.contains(2L))
    (2L until 1L + MetaLog.HintLag).foreach(v => assert(log.append(v, log.nonce(v), rec(s"$v"))))
    assert(hinted == 1L + MetaLog.HintLag)
    Files.write(hint(dir), "2".getBytes(UTF_8))
    // a writer that died between its claim and its hint write: committed
    val top = 2L + MetaLog.HintLag
    Files.write(log.path(top), rec("c"))
    assert(log.head.contains(top))
    // a hint naming a retired version, and no hint at all: the listing
    Files.write(hint(dir), "99".getBytes(UTF_8))
    assert(log.head.contains(top))
    Files.delete(hint(dir))
    assert(log.head.contains(top))
    // records open with their nonce; a record written before nonces has none
    assert(log.nonce(1L).nonEmpty && log.nonce(top) == "" && log.nonce(top + 1) == null)
    assert(Json.mapper.readTree(log.read(2L)).get("parentNonce").asText == log.nonce(1L))
    assert(log.append(top, "", rec("d")) && log.head.contains(top + 1))
  }

  test("a writer whose parent was retired or is no longer the head loses") {
    val dir = Files.createTempDirectory("graft-metalog-ghost-")
    val log = new MetaLog(dir, "r-")
    assert(log.append(0L, null, rec("1")))
    val stale = log.nonce(1L)
    (1L to 4L).foreach(v => assert(log.append(v, log.nonce(v), rec(s"${v + 1}"))))
    // the parent retired: name 2 is free again, but the writer's parent is gone
    log.retire(Seq(1L, 2L))
    assert(!log.append(1L, stale, rec("ghost")))
    assert(!Files.exists(log.path(2L)))
    // a retained parent whose successor retired: the hint is above it
    log.retire(Seq(4L))
    assert(!log.append(3L, log.nonce(3L), rec("ghost")))
    assert(!Files.exists(log.path(4L)) && log.head.contains(5L))
    assert(log.append(5L, log.nonce(5L), rec("6")))
  }

  test("a table written before nonces (CURRENT + plain snap files) opens and commits") {
    val dir = Files.createTempDirectory("graft-metalog-legacy-").toString
    val store = new MetaStore(dir, Seq("clip_id"))
    store.commit("append", Seq.empty)
    store.commit("append", Seq.empty)
    val meta = Paths.get(dir, "meta")
    (1L to 2L).foreach { id =>
      val tree = Json.mapper.readTree(store.log.read(id))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      tree.remove("nonce"); tree.remove("parentNonce")
      Files.write(meta.resolve(s"snap-$id.json"), Json.mapper.writeValueAsBytes(tree))
    }
    // that writer kept an authoritative CURRENT and wrote no HINT
    Files.delete(hint(meta))
    Files.write(meta.resolve("CURRENT"), "2".getBytes(UTF_8))
    val reopened = new MetaStore(dir, Seq("clip_id"))
    assert(reopened.currentSnapshotId.contains(2L))
    assert(reopened.commit("append", Seq.empty) == 3L)
    assert(reopened.snapshot(3L).parentId == 2L)
    assert(reopened.allSnapshotIds == Seq(1L, 2L, 3L))
    // the first commit replaces CURRENT: an older binary sees no table
    // instead of a stale head
    assert(!Files.exists(meta.resolve("CURRENT")) && Files.exists(hint(meta)))
  }

  test("a record written before a field existed reads that field's default") {
    val snap = Json.readSnapshot("""{"id":3,"parentId":2,"timestampMs":1,""" +
      """"operation":"append","manifests":["manifest-3.json"],"summary":{}}""")
    assert(snap.deleteManifests == Nil && snap.manifestSummaries == Map.empty &&
      snap.evolutions == Nil)
    val mf = Files.createTempFile("graft-manifest-", ".json")
    Files.write(mf, ("""{"entries":[{"path":"/t/data/a.parquet","rows":2,""" +
      """"sizeBytes":9,"stats":{}}]}""").getBytes(UTF_8))
    val Seq(e) = Json.readManifest(mf)
    assert(e.seq == 0L && e.partition == Map.empty && e.schemaId == 0)
    val evo = Json.mapper.readValue[Evolution]("""{"column":"q","typeDdl":"INT",""" +
      """"defaultSql":"1","schemaAfterJson":"{}"}""")
    assert(evo.kind == "add" && evo.renamedFrom == "" && evo.schemaBeforeJson == "" &&
      evo.paths == Nil)
    assert(Json.mapper.readValue[RefsFile]("""{"tags":{"t":"1"}}""").retention == Map.empty)
  }

  test("a writer stalled between its checks and its link loses when its " +
    "name is retired meanwhile") {
    val dir = Files.createTempDirectory("graft-metalog-latelink-")
    val log = new MetaLog(dir, "r-")
    (0L to 2L).foreach(v => assert(log.append(v, log.nonce(v), rec(s"${v + 1}"))))
    var fired = false
    val won = withBeforeLink(dir) { _ =>
      if (!fired) {
        fired = true
        // others commit 4 and 5, and 3 and 4 (our name) are retired
        (3L to 4L).foreach(v => assert(log.append(v, log.nonce(v), rec(s"${v + 1}"))))
        log.retire(Seq(3L, 4L))
      }
    } {
      log.append(3L, log.nonce(3L), rec("ghost"))
    }
    assert(fired && !won, "a claim of a retired name counted as a commit")
    assert(!Files.exists(log.path(4L)) && log.head.contains(5L))
    assert(log.append(5L, log.nonce(5L), rec("6")) && log.head.contains(6L))
    assert(Files.list(dir).iterator().asScala.forall(p =>
      !MetaFs.isTemp(p.getFileName.toString)), "a temp was left behind")

    // the same through commits and expiry (keepLast = 1, no age floor)
    val table = Files.createTempDirectory("graft-metalog-latelink-t-").toString
    val store = new MetaStore(table, Seq("clip_id"))
    val other = new MetaStore(table, Seq("clip_id"))
    store.commit("append", Seq.empty)
    var expired = false
    intercept[ConcurrentCommitException] {
      withBeforeLink(Paths.get(table, "meta")) { _ =>
        if (!expired) {
          expired = true
          other.commit("append", Seq.empty)
          other.commit("append", Seq.empty)
          ExpireSnapshots.run(other, keepLast = 1)
        }
      } {
        store.commit("append", Seq.empty)
      }
    }
    assert(expired && store.allSnapshotIds == Seq(3L) && store.currentSnapshotId.contains(3L))
    assert(store.commit("append", Seq.empty) == 4L && store.snapshot(4L).parentId == 3L)
  }

  test("a hint set back below a retired gap does not hide the head") {
    val dir = Files.createTempDirectory("graft-metalog-latehint-").toString
    val store = new MetaStore(dir, Seq("clip_id"))
    val other = new MetaStore(dir, Seq("clip_id"))
    val meta = Paths.get(dir, "meta")
    store.commit("append", Seq.empty)
    var fired = false
    val id = withAfterClaim(meta) { v =>
      if (!fired) {
        fired = true
        // before our hint write: v is tagged, two commits land, and expiry
        // retires v + 1, leaving a gap between the tagged v and the head
        Refs.tag(other, "pinned", v)
        other.commit("append", Seq.empty)
        other.commit("append", Seq.empty)
        ExpireSnapshots.run(other, keepLast = 1)
        // our stalled hint rename lands now
        MetaFs.replace(hint(meta), v.toString.getBytes(UTF_8))
      }
    } {
      store.commit("append", Seq.empty)
    }
    assert(fired && id == 2L && store.allSnapshotIds == Seq(2L, 4L))
    assert(store.currentSnapshotId.contains(4L), "the late hint hid the head")
    assert(store.commit("append", Seq.empty) == 5L && store.snapshot(5L).parentId == 4L)
  }

  test("orphan GC between a claim and its hint write never loses a " +
    "committed snapshot, alone or with a second writer committing") {
    Seq(false, true).foreach { racer =>
      val dir = Files.createTempDirectory("graft-metalog-gc-").toString
      val store = new MetaStore(dir, Seq("clip_id"))
      val other = new MetaStore(dir, Seq("clip_id"))
      store.commit("append", Seq.empty)
      val meta = Paths.get(dir, "meta")
      var fired = false
      val id = withAfterClaim(meta) { _ =>
        if (!fired) {
          fired = true
          Thread.sleep(5) // the claim is now older than a 0 ms age floor
          RemoveOrphans.run(store, minAgeMs = 0L)
          if (racer) other.commit("append", Seq.empty)
        }
      } {
        store.commit("append", Seq.empty)
      }
      assert(fired && id == 2L)
      val head = if (racer) 3L else 2L
      assert(store.currentSnapshotId.contains(head), s"racer=$racer")
      assert(store.allSnapshotIds == (1L to head), s"racer=$racer")
      (2L to head).foreach(i => assert(store.snapshot(i).parentId == i - 1))
      // and the next commit lands on top, no orphan GC needed
      assert(store.commit("append", Seq.empty) == head + 1)
    }
  }
}
