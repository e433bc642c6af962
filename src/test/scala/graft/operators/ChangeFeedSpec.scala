package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Change-data-feed invariants: rewrite commits made with
  * `changeFeed = true` capture exact row-level pre/post images at
  * commit time, appends deliver their add files as inserts, windows
  * compose, uncaptured rewrites refuse, and vacuum reclaims
  * unaddressable change rows. */
class ChangeFeedSpec extends SparkSpec {

  import spark.implicits._

  private def changes(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("part"),
      r.getAs[Double]("v"), r.getAs[String](TimeTravel.ChangeTypeCol),
      r.getAs[Int](TimeTravel.CommitVersionCol))).toSet

  private def stage(): String = {
    val dir = tmpDir("tt-cdf")
    TimeTravel.init(spark, dir,
      Seq((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0))
        .toDF("id", "part", "v"), "part")
    dir
  }

  test("upsert captures update pre/post images and inserts exactly") {
    val dir = stage()
    // 1 is updated in place, 3 moves partition, 9 is brand new
    TimeTravel.upsert(spark, dir,
      Seq((1L, "p1", 11.0), (3L, "p1", 33.0), (9L, "p2", 90.0))
        .toDF("id", "part", "v"), "id", "part", changeFeed = true)
    val feed = TimeTravel.readChangesSince(spark, dir, 1)
    assert(changes(feed) === Set(
      (1L, "p1", 10.0, "update_preimage", 2),
      (1L, "p1", 11.0, "update_postimage", 2),
      (3L, "p2", 30.0, "update_preimage", 2),
      (3L, "p1", 33.0, "update_postimage", 2),
      (9L, "p2", 90.0, "insert", 2)))
  }

  test("delete captures the deleted rows; appends deliver as inserts; compact delivers nothing") {
    val dir = stage()
    TimeTravel.append(spark, dir,
      Seq((4L, "p2", 40.0)).toDF("id", "part", "v"), "part")
    TimeTravel.delete(spark, dir, Seq(2L, 4L).toDF("id"), "id", "part",
      changeFeed = true)
    TimeTravel.append(spark, dir,
      Seq((5L, "p1", 50.0)).toDF("id", "part", "v"), "part")
    TimeTravel.compact(spark, dir, "part")
    val feed = TimeTravel.readChangesSince(spark, dir, 1)
    assert(changes(feed) === Set(
      (4L, "p2", 40.0, "insert", 2),
      (2L, "p1", 20.0, "delete", 3),
      (4L, "p2", 40.0, "delete", 3),
      (5L, "p1", 50.0, "insert", 4)))
    // windows compose: (1,3] ++ (3,latest] = (1,latest]
    val latest = TimeTravel.latestVersion(spark, dir)
    val a = changes(TimeTravel.readChangesSince(spark, dir, 1, 3))
    val b = changes(TimeTravel.readChangesSince(spark, dir, 3, latest))
    assert((a ++ b) === changes(feed))
    assert(a.intersect(b).isEmpty)
  }

  test("a rewrite committed without changeFeed refuses the window loudly") {
    val dir = stage()
    TimeTravel.upsert(spark, dir,
      Seq((1L, "p1", 11.0)).toDF("id", "part", "v"), "id", "part")
    val e = intercept[IllegalArgumentException] {
      TimeTravel.readChangesSince(spark, dir, 1).collect()
    }
    assert(e.getMessage.contains("recorded no change rows"))
  }

  test("changes captured before a schema evolution NULL-fill the added column") {
    val dir = stage()
    TimeTravel.delete(spark, dir, Seq(2L).toDF("id"), "id", "part",
      changeFeed = true)
    TimeTravel.upsert(spark, dir,
      Seq((1L, "p1", 12.0, "x")).toDF("id", "part", "v", "tag"),
      "id", "part", evolveSchema = true, changeFeed = true)
    val feed = TimeTravel.readChangesSince(spark, dir, 1)
    assert(feed.columns.toSeq ===
      Seq("id", "part", "v", "tag", TimeTravel.ChangeTypeCol,
        TimeTravel.CommitVersionCol))
    val del = feed.filter(col(TimeTravel.ChangeTypeCol) === "delete")
      .head()
    assert(del.getAs[Long]("id") === 2L && del.isNullAt(del.fieldIndex("tag")))
    val post = feed
      .filter(col(TimeTravel.ChangeTypeCol) === "update_postimage").head()
    assert(post.getAs[String]("tag") === "x")
  }

  test("vacuum reclaims change rows below the floor; windows crossing the floor refuse") {
    val dir = stage()
    TimeTravel.delete(spark, dir, Seq(2L).toDF("id"), "id", "part",
      changeFeed = true) // v2
    TimeTravel.append(spark, dir,
      Seq((7L, "p1", 70.0)).toDF("id", "part", "v"), "part") // v3
    TimeTravel.vacuum(spark, dir, 2)
    // (2, 3] still works — the feed never needs the floor's own record
    assert(changes(TimeTravel.readChangesSince(spark, dir, 2)) ===
      Set((7L, "p1", 70.0, "insert", 3)))
    intercept[IllegalArgumentException] {
      TimeTravel.readChangesSince(spark, dir, 1).collect()
    }
    // the dropped version's change dir is physically gone: no retained
    // record references it, so vacuum's token sweep reclaimed it
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_change")) ||
      java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, "_change")).count() === 0)
  }

  test("change rows stay bound to their commit across a REBASE") {
    val dir = stage()
    // deterministic race: a real append wins v2 AFTER the loser (a CDC
    // upsert of p1's row) captured its changes and staged its write
    // against base v1. With version-keyed change dirs the captured rows
    // would misbind to v2 (the append!); the #cdc token must follow the
    // commit to wherever the rebase lands it.
    val tok = TimeTravel.newToken()
    TimeTravel.writeChanges(spark, dir, tok, Seq(
      Seq((1L, "p1", 10.0, "update_preimage"),
        (1L, "p1", 11.0, "update_postimage"))
        .toDF("id", "part", "v", TimeTravel.ChangeTypeCol)))
    val adds = TimeTravel.stageWrite(spark, dir,
      Seq((1L, "p1", 11.0), (2L, "p1", 20.0)).toDF("id", "part", "v"),
      "part")
    val removes = TimeTravel.filesAt(spark, dir, 1)
      .filter(_.startsWith("part=p1/"))
    TimeTravel.append(spark, dir, // the winner takes v2
      Seq((8L, "p2", 80.0)).toDF("id", "part", "v"), "part")
    val fs = TimeTravel.hadoopFs(spark, dir)
    val schema = TimeTravel.readVersion(spark, dir, 1).schema
    val v = TimeTravel.commitWithRebase(spark, fs, dir, prev = 1,
      dirs = Set("part=p1"), adds = adds, removes = removes, txn = None,
      batchSchema = schema, op = "upsert", evolveSchema = false,
      cdc = Some(tok),
      prevRec = TimeTravel.recordAt(fs, dir, 1))
    assert(v === 3) // rebased past the append
    val feed = TimeTravel.readChangesSince(spark, dir, 2)
    assert(changes(feed) === Set(
      (1L, "p1", 10.0, "update_preimage", 3),
      (1L, "p1", 11.0, "update_postimage", 3)))
    // the full window sees the append as v2's insert, the upsert as v3
    assert(changes(TimeTravel.readChangesSince(spark, dir, 1)) ===
      changes(feed) + ((8L, "p2", 80.0, "insert", 2)))
  }

  test("an aborted commit's change rows are never served and vacuum reclaims them") {
    val dir = stage()
    // force an abort AFTER change capture: delete every row of the
    // table — commitRewrite refuses table-emptying commits, but the
    // change rows for the doomed delete were already written
    intercept[IllegalArgumentException] {
      TimeTravel.delete(spark, dir, Seq(1L, 2L, 3L).toDF("id"),
        "id", "part", changeFeed = true)
    }
    assert(TimeTravel.latestVersion(spark, dir) === 1)
    val orphans = java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "_change")).count()
    assert(orphans === 1) // the aborted capture, unreferenced
    // a real v2 landing at the aborted commit's predicted version must
    // NOT serve the orphan rows as its changes
    TimeTravel.upsert(spark, dir,
      Seq((1L, "p1", 11.0)).toDF("id", "part", "v"), "id", "part")
    val e = intercept[IllegalArgumentException] {
      TimeTravel.readChangesSince(spark, dir, 1).collect()
    }
    assert(e.getMessage.contains("recorded no change rows"))
    // a DEFAULT vacuum preserves the young orphan — it cannot tell an
    // aborted capture from a concurrent commit's in-flight one (age
    // guard); past the age threshold (0 here) it sweeps
    TimeTravel.vacuum(spark, dir, TimeTravel.latestVersion(spark, dir))
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "_change")).count() === 1)
    TimeTravel.vacuum(spark, dir, TimeTravel.latestVersion(spark, dir),
      orphanMinAgeMs = 0L)
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "_change")).count() === 0)
  }
}
