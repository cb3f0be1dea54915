package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

/** [[Scratch]] scopes hand out fresh dirs and pooled catalog names and
  * take both back on close; the bench sweep stays inside graft's root. */
class ScratchSpec extends SparkSpec {

  private def catalogKeys = spark.conf.getAll.keys
    .filter(_.startsWith("spark.sql.catalog.gscratch")).toSet

  test("a scope's dirs and catalog keys die with it; names are pooled") {
    val before = catalogKeys
    val (dirs, names) = Scratch.scope {
      val d = Scratch.dir("ckpt")
      val (wh1, c1) = Scratch.catalog(spark)
      val (wh2, c2) = Scratch.catalog(spark)
      assert(Seq(d, wh1, wh2).forall(p => Files.isDirectory(Paths.get(p))))
      assert(Seq(d, wh1, wh2).forall(_.startsWith(Scratch.root.toString)))
      assert(c1 != c2)
      assert(spark.conf.get(s"spark.sql.catalog.$c1.warehouse") == wh1)
      (Seq(d, wh1, wh2), Seq(c1, c2))
    }
    assert(dirs.forall(p => !Files.exists(Paths.get(p))))
    assert(catalogKeys == before)
    // the next scope reuses the freed names over a fresh warehouse
    val (wh, again) = Scratch.scope(Scratch.catalog(spark))
    assert(again == names.head)
    assert(!dirs.contains(wh))
  }

  test("a scope closes when its body throws") {
    var dir = ""
    intercept[IllegalStateException](Scratch.scope {
      dir = Scratch.dir("stage")
      throw new IllegalStateException("boom")
    })
    assert(!Files.exists(Paths.get(dir)))
  }

  test("the stale-scratch sweep removes only dead dirs under graft's root") {
    val tmp = Files.createTempDirectory("sweep")
    def stale(p: Path): Path = {
      Files.createDirectories(p.resolve("blockmgr-x"))
      Files.setLastModifiedTime(p, FileTime.fromMillis(0L))
      p
    }
    val root = tmp.resolve("graft-scratch")
    val otherSpark = stale(tmp.resolve("spark-other-app"))
    val dead = stale(root.resolve("not-a-live-pid"))
    val live = stale(root.resolve(ProcessHandle.current().pid().toString))
    val fresh = Files.createDirectories(root.resolve("fresh"))
    try {
      assert(Bench.sweepStaleScratch(root, System.currentTimeMillis() - 3600000L) == 1)
      assert(Files.isDirectory(otherSpark))
      assert(!Files.exists(dead))
      assert(Files.isDirectory(live))
      assert(Files.isDirectory(fresh))
    } finally Scratch.deleteRecursively(tmp)
  }
}
