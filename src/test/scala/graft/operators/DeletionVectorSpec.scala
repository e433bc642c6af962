package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Merge-on-read deletes ([[TimeTravel.deleteWhereDv]]): a predicate
  * delete lands as a `_dv/<token>/` position artifact plus a re-binding
  * commit — ZERO data-file bytes rewritten — and every reader applies
  * the vectors invisibly. Pins: exact content under time travel,
  * physical-file immutability, accumulation across deletes, no
  * resurrection through upsert/compact/rewrite paths, exactly-once CDC,
  * feed refusals, restore rewind, vacuum retention of live artifacts,
  * and checkpoint (text ≡ parquet) resolution of bindings. */
class DeletionVectorSpec extends SparkSpec {

  import spark.implicits._

  /** Four disjoint key slabs, one file each, across two partitions —
    * slab s holds keys [s*100, s*100+99], part = "p" + (s % 2). */
  private def slabTable(): String = {
    val t = tmpDir("dv-slabs")
    (0 until 4).foreach { s =>
      val df = ((s * 100) until (s * 100 + 100)).map(i =>
        (i.toLong, s"p${s % 2}", i * 1.0)).toDF("k", "p", "x")
        .repartition(1)
      if (s == 0) TimeTravel.init(spark, t, df, "p")
      else TimeTravel.append(spark, t, df, "p")
    }
    t
  }

  private def keys(t: String, v: Int): Set[Long] =
    TimeTravel.readVersion(spark, t, v).select("k").as[Long]
      .collect().toSet

  test("deleteWhereDv hides exactly the matching rows without rewriting any data file") {
    val t = slabTable()
    val before = TimeTravel.latestVersion(spark, t)
    val filesBefore = TimeTravel.filesAt(spark, t, before).toSet
    val v = TimeTravel.deleteWhereDv(spark, t,
      col("k") >= 150 && col("k") < 250, "p")
    assert(v === before + 1)
    // the data-file SET is unchanged — the delete is pure metadata +
    // a position artifact; deleteWhere would have rewritten two files
    assert(TimeTravel.filesAt(spark, t, v).toSet === filesBefore)
    // stats pruning scoped the probe to the two intersecting slabs
    val (probed, total) = TimeTravel.discoveryStats(t)
    assert(total === 4 && probed <= 2)
    assert(keys(t, v) === ((0L until 150L) ++ (250L until 400L)).toSet)
    // time travel: the pre-delete version still reads every row
    assert(keys(t, before) === (0L until 400L).toSet)
  }

  test("DV deletes accumulate per file and each version reads its own delete-set") {
    val t = slabTable()
    val v1 = TimeTravel.deleteWhereDv(spark, t, col("k") === 110L, "p")
    val v2 = TimeTravel.deleteWhereDv(spark, t, col("k") === 111L, "p")
    val v3 = TimeTravel.deleteWhereDv(spark, t,
      col("k") >= 112L && col("k") <= 114L, "p")
    assert(keys(t, v1) === (0L until 400L).toSet - 110L)
    assert(keys(t, v2) === (0L until 400L).toSet - 110L - 111L)
    assert(keys(t, v3) ===
      (0L until 400L).toSet -- (110L to 114L))
    // still zero rewrites across all three commits
    assert(TimeTravel.filesAt(spark, t, v3).toSet ===
      TimeTravel.filesAt(spark, t, v1 - 1).toSet)
  }

  test("a DV delete matching nothing (or pruning everything) commits nothing") {
    val t = slabTable()
    val before = TimeTravel.latestVersion(spark, t)
    assert(TimeTravel.deleteWhereDv(spark, t, col("k") > 9999, "p")
      === before)
    // NULL predicate rows survive, SQL semantics
    val t2 = tmpDir("dv-null")
    TimeTravel.init(spark, t2, Seq((1L, "a", Some(1.0)),
      (2L, "a", None), (3L, "a", Some(9.0))).toDF("k", "p", "x"), "p")
    val v = TimeTravel.deleteWhereDv(spark, t2, col("x") > 5.0, "p")
    assert(TimeTravel.readVersion(spark, t2, v)
      .select("k").as[Long].collect().toSet === Set(1L, 2L))
  }

  test("DV-deleting every row is representable and the table accepts later commits") {
    val t = tmpDir("dv-all")
    TimeTravel.init(spark, t,
      Seq((1L, "a", 1.0), (2L, "a", 2.0)).toDF("k", "p", "x"), "p")
    val v = TimeTravel.deleteWhereDv(spark, t, col("k") >= 0L, "p")
    val empty = TimeTravel.readVersion(spark, t, v)
    assert(empty.count() === 0)
    // column ORDER follows the scan's data-then-partition layout; the
    // committed column SET is what the contract pins
    assert(empty.columns.toSet === Set("k", "p", "x"))
    val v2 = TimeTravel.append(spark, t,
      Seq((9L, "a", 9.0)).toDF("k", "p", "x"), "p")
    assert(keys(t, v2) === Set(9L))
  }

  test("upsert and rewrite paths never resurrect DV-deleted rows") {
    val t = slabTable()
    TimeTravel.deleteWhereDv(spark, t, col("k") === 120L, "p")
    // upsert touching the DV'd partition: the affected-partition
    // read-back must be DV-filtered or 120 would come back
    val v = TimeTravel.upsert(spark, t,
      Seq((121L, "p1", -1.0)).toDF("k", "p", "x"), "k", "p")
    assert(!keys(t, v).contains(120L))
    assert(TimeTravel.readVersion(spark, t, v)
      .filter(col("k") === 121L).select("x").as[Double].head() === -1.0)
    // the rewrite delete path over a DV'd file: same invariant
    val t2 = slabTable()
    TimeTravel.deleteWhereDv(spark, t2, col("k") === 130L, "p")
    val v2 = TimeTravel.deleteWhere(spark, t2, col("k") === 131L, "p")
    assert(keys(t2, v2) === (0L until 400L).toSet - 130L - 131L)
    // updateWhere across DV'd rows: a SET hitting a deleted key is a
    // no-op on it (the row no longer exists)
    val t3 = slabTable()
    TimeTravel.deleteWhereDv(spark, t3, col("k") === 140L, "p")
    val v3 = TimeTravel.updateWhere(spark, t3,
      col("k").isin(140L, 141L), Map("x" -> lit(0.0)), "p")
    val rows = TimeTravel.readVersion(spark, t3, v3)
      .filter(col("k").isin(140L, 141L))
      .select("k", "x").as[(Long, Double)].collect().toSet
    assert(rows === Set((141L, 0.0)))
  }

  test("compact materializes deletion vectors: rewritten files carry only live rows") {
    val t = tmpDir("dv-compact")
    // many small files in one partition so compact triggers
    (0 until 6).foreach { s =>
      val df = ((s * 10) until (s * 10 + 10)).map(i =>
        (i.toLong, "a", i * 1.0)).toDF("k", "p", "x").repartition(1)
      if (s == 0) TimeTravel.init(spark, t, df, "p")
      else TimeTravel.append(spark, t, df, "p")
    }
    val vDel = TimeTravel.deleteWhereDv(spark, t,
      col("k") % 2 === 0, "p")
    val vC = TimeTravel.compact(spark, t, "p", maxFilesPerDir = 2)
    assert(vC > vDel)
    assert(keys(t, vC) === (0L until 60L).filter(_ % 2 == 1).toSet)
    // post-compaction the version carries no DV'd files: physical row
    // count equals logical row count on a raw read of the file set
    val raw = TimeTravel.filesAt(spark, t, vC)
    val rawCount = spark.read.parquet(
      raw.map(f => s"$t/data/$f"): _*).count()
    assert(rawCount === 30)
    // and the pre-compaction version still reads through its vectors
    assert(keys(t, vDel) === (0L until 60L).filter(_ % 2 == 1).toSet)
  }

  test("CDC captures each deleted row exactly once, and feeds classify DV commits correctly") {
    val t = slabTable()
    val v0 = TimeTravel.latestVersion(spark, t)
    val v1 = TimeTravel.deleteWhereDv(spark, t,
      col("k") >= 100L && col("k") < 105L, "p", changeFeed = true)
    // overlapping re-delete: already-deleted positions are invisible to
    // the probe, so only the NEW rows are captured
    val v2 = TimeTravel.deleteWhereDv(spark, t,
      col("k") >= 100L && col("k") < 107L, "p", changeFeed = true)
    val changes = TimeTravel.readChangesSince(spark, t, v0, v2)
    val byVersion = changes
      .select("k", TimeTravel.ChangeTypeCol, TimeTravel.CommitVersionCol)
      .as[(Long, String, Int)].collect().toSet
    assert(byVersion === ((100L until 105L).map(k =>
      (k, "delete", v1)) ++ (105L until 107L).map(k =>
      (k, "delete", v2))).toSet)
    // an insert-only feed cannot represent a DV delete — loud refusal
    val e = intercept[IllegalArgumentException](
      TimeTravel.readAppendsSince(spark, t, v0, v2))
    assert(e.getMessage.contains("delete"))
  }

  test("restore rewinds DV bindings: deleted rows reappear, zero bytes copied") {
    val t = slabTable()
    val v0 = TimeTravel.latestVersion(spark, t)
    val files0 = TimeTravel.filesAt(spark, t, v0).toSet
    val v1 = TimeTravel.deleteWhereDv(spark, t, col("k") < 50L, "p")
    val v2 = TimeTravel.restore(spark, t, v0)
    assert(v2 === v1 + 1)
    assert(keys(t, v2) === (0L until 400L).toSet)
    assert(TimeTravel.filesAt(spark, t, v2).toSet === files0)
    // the deleted state is still history, and restoring INTO a DV'd
    // version re-binds its vectors
    assert(keys(t, v1) === (50L until 400L).toSet)
    val v3 = TimeTravel.restore(spark, t, v1)
    assert(keys(t, v3) === (50L until 400L).toSet)
  }

  test("vacuum keeps artifacts any retained version binds and reclaims superseded ones") {
    val t = slabTable()
    val v1 = TimeTravel.deleteWhereDv(spark, t, col("k") === 10L, "p")
    val v2 = TimeTravel.deleteWhereDv(spark, t, col("k") === 11L, "p")
    val dvRoot = new java.io.File(s"$t/_dv")
    assert(dvRoot.listFiles().length === 2)
    // keep only the tip: v1's artifact is superseded (v2's folded its
    // positions in) and its record drops — reclaimed immediately
    TimeTravel.vacuum(spark, t, keepFrom = v2)
    assert(dvRoot.listFiles().length === 1)
    assert(keys(t, v2) === (0L until 400L).toSet - 10L - 11L)
    // the floor checkpoint carried the binding: resolution works with
    // every pre-floor record gone
    val v3 = TimeTravel.append(spark, t,
      Seq((1000L, "p0", 0.0)).toDF("k", "p", "x"), "p")
    assert(keys(t, v3) === (0L until 400L).toSet - 10L - 11L + 1000L)
  }

  test("DV bindings resolve identically through text and parquet cadence checkpoints") {
    def build(t: String): Unit = {
      // v1 init + 8 appends + DV delete = v10, the cadence checkpoint
      val df0 = (0 until 10).map(i => (i.toLong, "a", i * 1.0))
        .toDF("k", "p", "x").repartition(1)
      TimeTravel.init(spark, t, df0, "p")
      (1 to 8).foreach { s =>
        val df = ((s * 10) until (s * 10 + 10)).map(i =>
          (i.toLong, "a", i * 1.0)).toDF("k", "p", "x").repartition(1)
        TimeTravel.append(spark, t, df, "p")
      }
      assert(TimeTravel.deleteWhereDv(spark, t,
        col("k") % 10 === 3, "p") === 10)
    }
    val pq = tmpDir("dv-ckpt-pq"); build(pq)
    val txt = tmpDir("dv-ckpt-txt"); build(txt)
    assert(TextCheckpoints.rewrite(spark, txt) === Seq(10))
    // drop pre-checkpoint records in both: resolution must come from
    // the v10 checkpoint alone, bindings included
    Seq(pq, txt).foreach { t =>
      (1 until 10).foreach { v =>
        new java.io.File(s"$t/_graft_log/$v.delta").delete()
        new java.io.File(s"$t/_graft_log/$v.manifest").delete()
      }
      assert(keys(t, 10) ===
        (0L until 90L).filterNot(_ % 10 == 3).toSet)
    }
  }

  test("updateWhereDv appends updated images and hides the old positions — no file rewrite") {
    val t = slabTable()
    val before = TimeTravel.latestVersion(spark, t)
    val filesBefore = TimeTravel.filesAt(spark, t, before).toSet
    val v = TimeTravel.updateWhereDv(spark, t,
      col("k") >= 150L && col("k") < 250L,
      Map("x" -> (col("x") + lit(1000.0))), "p", changeFeed = true)
    val filesAfter = TimeTravel.filesAt(spark, t, v).toSet
    // every pre-update file carries over BY NAME; the update only ADDS
    assert((filesBefore -- filesAfter).isEmpty,
      "an update must not rewrite any existing file")
    assert((filesAfter -- filesBefore).nonEmpty,
      "the updated images land as new files")
    val got = TimeTravel.readVersion(spark, t, v)
      .select("k", "x").as[(Long, Double)].collect().toMap
    assert(got.size === 400)
    (0L until 400L).foreach { k =>
      val want = if (k >= 150 && k < 250) k + 1000.0 else k * 1.0
      assert(got(k) === want, s"k=$k")
    }
    // pre-update version intact; CDC pairs pre/post images exactly
    assert(keys(t, before) === (0L until 400L).toSet)
    val images = TimeTravel.readChangesSince(spark, t, v - 1, v)
      .groupBy(col(TimeTravel.ChangeTypeCol)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(images === Map("update_preimage" -> 100L,
      "update_postimage" -> 100L))
    // SET evaluated on ORIGINAL values: post-images carry k-derived x
    val post = TimeTravel.readChangesSince(spark, t, v - 1, v)
      .filter(col(TimeTravel.ChangeTypeCol) === "update_postimage" &&
        col("k") === 200L).select("x").as[Double].head()
    assert(post === 1200.0)
  }

  test("updateWhereDv re-validates against CHECK constraints and refuses whole") {
    val t = slabTable()
    TimeTravel.addConstraint(spark, t, "x_cap", "x < 5000")
    val before = TimeTravel.latestVersion(spark, t)
    intercept[IllegalArgumentException](
      TimeTravel.updateWhereDv(spark, t, col("k") === 10L,
        Map("x" -> lit(99999.0)), "p"))
    assert(TimeTravel.latestVersion(spark, t) === before)
    // a compliant DV update still lands under the policy
    val v = TimeTravel.updateWhereDv(spark, t, col("k") === 10L,
      Map("x" -> lit(4999.0)), "p")
    assert(TimeTravel.readVersion(spark, t, v)
      .filter(col("k") === 10L).select("x").as[Double].head() === 4999.0)
  }

  test("the declarative relation applies DVs instead of refusing or resurrecting rows") {
    val t = slabTable()
    val v0 = TimeTravel.latestVersion(spark, t)
    val v = TimeTravel.deleteWhereDv(spark, t, col("k") === 7L, "p")
    // round 13 refused here; the merge-on-read relation now anti-joins
    // the vectors inside the scan — the deleted row is GONE, not
    // resurrected, through the same declarative surface
    val decl = spark.read.format("graft-versioned").option("path", t)
      .load()
    assert(decl.count() === 399)
    assert(decl.filter(col("k") === 7L).count() === 0)
    // pre-DV versions route to the codegen fast path and see the row
    assert(spark.read.format("graft-versioned").option("path", t)
      .option("versionAsOf", v0.toString).load().count() === 400)
    // compact materializes DV'd dirs regardless of file count (PURGE):
    // the tip routes BACK to the raw-split fast path afterwards
    val vC = TimeTravel.compact(spark, t, "p", maxFilesPerDir = 16)
    assert(vC > v)
    val tip = spark.read.format("graft-versioned").option("path", t)
      .load()
    assert(tip.count() === 399)
    assert(tip.queryExecution.executedPlan.toString
      .contains("FileScan parquet"), "materialized tip should plan as " +
        "a native parquet scan again")
  }

  test("DV deletes compose with schema evolution: NULL-filled columns and vectors apply together") {
    val t = tmpDir("dv-evolve")
    TimeTravel.init(spark, t, (0 until 20).map(i =>
      (i.toLong, "a", i * 1.0)).toDF("k", "p", "x").repartition(1), "p")
    // widen the schema, then DV-delete rows from the PRE-evolution file
    TimeTravel.append(spark, t, (20 until 30).map(i =>
      (i.toLong, "a", i * 1.0, s"tag$i")).toDF("k", "p", "x", "tag")
      .repartition(1), "p", evolveSchema = true)
    val v = TimeTravel.deleteWhereDv(spark, t, col("k") < 5L, "p")
    val out = TimeTravel.readVersion(spark, t, v)
    assert(out.count() === 25)
    // pre-evolution survivors NULL-fill the added column; the vector
    // hid exactly the matching pre-evolution positions
    assert(out.filter(col("tag").isNull)
      .select("k").as[Long].collect().toSet === (5L until 20L).toSet)
    assert(out.filter(col("tag").isNotNull).count() === 10)
    // and deleting across BOTH eras in one predicate works too
    val v2 = TimeTravel.deleteWhereDv(spark, t,
      col("k").isin(7L, 25L), "p")
    assert(TimeTravel.readVersion(spark, t, v2).count() === 23)
  }

  test("a DV delete streams through CDC mode like any captured rewrite") {
    val t = tmpDir("dv-stream")
    TimeTravel.init(spark, t, (0 until 10).map(i =>
      (i.toLong, "a", i * 1.0)).toDF("k", "p", "x").repartition(1), "p")
    val v0 = TimeTravel.latestVersion(spark, t)
    TimeTravel.append(spark, t,
      Seq((10L, "a", 10.0)).toDF("k", "p", "x"), "p")
    TimeTravel.deleteWhereDv(spark, t, col("k") <= 1L, "p",
      changeFeed = true)
    val out = tmpDir("dv-stream-out")
    val ck = tmpDir("dv-stream-ck")
    graft.streaming.EventsStream.replayToParquet(
      graft.streaming.VersionedStream.readStream(spark, t,
        sinceVersion = Some(v0), changeFeed = true), out, ck)
    val got = spark.read.parquet(out)
      .select(col("k"), col(TimeTravel.ChangeTypeCol))
      .as[(Long, String)].collect().toSet
    assert(got === Set((10L, "insert"), (0L, "delete"), (1L, "delete")))
  }

  test("DV deletes compose with column mapping (rename is metadata, positions are physical)") {
    val t = tmpDir("dv-colmap")
    TimeTravel.init(spark, t, (0 until 20).map(i =>
      (i.toLong, "a", i * 1.0)).toDF("k", "p", "x").repartition(1), "p")
    TimeTravel.renameColumn(spark, t, "x", "value")
    val v = TimeTravel.deleteWhereDv(spark, t, col("value") < 5.0, "p")
    val out = TimeTravel.readVersion(spark, t, v)
    assert(out.columns.toSeq === Seq("k", "p", "value"))
    assert(out.select("k").as[Long].collect().toSet ===
      (5L until 20L).toSet)
  }
}
