package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Table bloom index ([[TimeTravel.setBloomIndex]]): per-file Bloom
  * filters built at commit time for point-lookup file skipping on
  * UNCLUSTERED columns — where every file's min/max covers every value
  * and range stats prune nothing. Pins: equality pruning with exact
  * results (no false negatives by construction, false positives only
  * cost I/O), forward-only indexing, binding carry across DV re-adds,
  * regeneration through compaction, checkpoint resolution in both
  * formats, vacuum retention, policy refusals, and the declarative
  * relation's pushed-equality pruning. */
class BloomIndexSpec extends SparkSpec {

  import spark.implicits._

  /** Four files in one partition, each holding an id STRIPE
    * (id % 4 == i): every file's [min, max] covers nearly the whole
    * domain, so range stats cannot prune equality — blooms can. */
  private def stripeTable(index: Boolean = true): String = {
    val t = tmpDir("bloom-stripes")
    def stripe(i: Int) = (0 until 400).filter(_ % 4 == i)
      .map(v => (v.toLong, "a", v * 1.0)).toDF("k", "p", "x")
      .repartition(1)
    TimeTravel.init(spark, t, stripe(0), "p")
    if (index) TimeTravel.setBloomIndex(spark, t, "k", 1000L, 0.001)
    (1 to 3).foreach(i => TimeTravel.append(spark, t, stripe(i), "p"))
    t
  }

  test("equality probes skip files whose filter proves the value absent; results stay exact") {
    val t = stripeTable()
    val v = TimeTravel.latestVersion(spark, t)
    // k=37 lives only in stripe 1; every file's range covers 37
    val scan = TimeTravel.readVersionSkipping(spark, t, v, "k", 37L, 37L)
    assert(scan.filesTotal === 4)
    // stripe 0 predates the policy (no filter — never skipped);
    // stripes 2 and 3 are provably absent — at most 2 files read
    assert(scan.filesRead <= 2,
      s"bloom should prune the indexed non-matching stripes, read " +
        s"${scan.filesRead}")
    assert(scan.df.filter(col("k") === 37L).count() === 1)
    // a value absent everywhere: only the unindexed file survives
    val none = TimeTravel.readVersionSkipping(spark, t, v, "k", 1001L,
      1001L)
    assert(none.filesRead <= 1)
    // and the result is exactly empty either way
    assert(none.filesRead === 0 ||
      none.df.filter(col("k") === 1001L).count() === 0)
  }

  test("range predicates never bloom-prune; pre-policy files are never skipped") {
    val t = stripeTable()
    val v = TimeTravel.latestVersion(spark, t)
    // a RANGE keeps every file (blooms answer equality only)
    val r = TimeTravel.readVersionSkipping(spark, t, v, "k", 10L, 20L)
    assert(r.filesRead === 4)
    // full content through the bloom'd snapshot is intact
    assert(TimeTravel.readVersion(spark, t, v).count() === 400)
  }

  test("point deleteWhereDv probes only the bloom-surviving files") {
    val t = stripeTable()
    val vd = TimeTravel.deleteWhereDv(spark, t, col("k") === 37L, "p")
    val (probed, total) = TimeTravel.discoveryStats(t)
    assert(total === 4 && probed <= 2,
      s"the point delete should bloom-prune its candidates, probed $probed")
    assert(TimeTravel.readVersion(spark, t, vd).count() === 399)
    // the DV re-add CARRIED the binding: the file still bloom-prunes,
    // and probing the deleted value reads the file but returns nothing
    val scan = TimeTravel.readVersionSkipping(spark, t, vd, "k", 37L, 37L)
    assert(scan.filesRead <= 2)
    assert(scan.df.filter(col("k") === 37L).count() === 0)
    val scan41 = TimeTravel.readVersionSkipping(spark, t, vd, "k", 41L,
      41L)
    assert(scan41.filesRead <= 2)
    assert(scan41.df.filter(col("k") === 41L).count() === 1)
    // a DV delete touching the PRE-policy file must not backfill a
    // filter for it — that would full-scan a file the mutation's
    // O(matching rows) contract promises never to re-read; it stays
    // unbound (forward-only), so the same probe still reads it
    val nBloomDirs = new java.io.File(s"$t/_bloom").listFiles().length
    val vd0 = TimeTravel.deleteWhereDv(spark, t, col("k") === 0L, "p")
    assert(new java.io.File(s"$t/_bloom").listFiles().length
      === nBloomDirs, "no new bloom artifact for a DV re-add")
    val scan0 = TimeTravel.readVersionSkipping(spark, t, vd0, "k", 40L,
      40L)
    assert(scan0.filesRead <= 2) // pre-policy file + stripe 0's filter
  }

  test("compaction regenerates filters for its consolidated output") {
    val t = stripeTable()
    val vc = TimeTravel.compact(spark, t, "p", maxFilesPerDir = 2,
      clusterBy = Some(("k", 2)))
    assert(TimeTravel.readVersion(spark, t, vc).count() === 400)
    // clustered output: 2 range-disjoint files, each bloom-indexed;
    // an equality probe reads exactly the one covering file
    val scan = TimeTravel.readVersionSkipping(spark, t, vc, "k", 37L, 37L)
    assert(scan.filesTotal === 2 && scan.filesRead === 1)
    assert(scan.df.filter(col("k") === 37L).count() === 1)
  }

  test("bindings resolve through cadence checkpoints in both formats") {
    def build(t: String): Unit = {
      val df0 = (0 until 10).map(i => (i.toLong, "a", i * 1.0))
        .toDF("k", "p", "x").repartition(1)
      TimeTravel.init(spark, t, df0, "p")
      TimeTravel.setBloomIndex(spark, t, "k", 1000L, 0.001)
      // appends land versions 3..10; v10 is the cadence checkpoint
      (1 to 8).foreach { s =>
        val df = ((s * 10) until (s * 10 + 10)).map(i =>
          (i.toLong, "a", i * 1.0)).toDF("k", "p", "x").repartition(1)
        TimeTravel.append(spark, t, df, "p")
      }
      assert(TimeTravel.latestVersion(spark, t) === 10)
    }
    val pq = tmpDir("bloom-ckpt-pq"); build(pq)
    val txt = tmpDir("bloom-ckpt-txt"); build(txt)
    assert(TextCheckpoints.rewrite(spark, txt) === Seq(10))
    Seq(pq, txt).foreach { t =>
      (1 until 10).foreach { v =>
        new java.io.File(s"$t/_graft_log/$v.delta").delete()
        new java.io.File(s"$t/_graft_log/$v.manifest").delete()
      }
      // k=55 lives in exactly one post-policy file; the pre-policy
      // init file (0..9) has no filter and always reads
      val scan = TimeTravel.readVersionSkipping(spark, t, 10, "k", 55L,
        55L)
      assert(scan.filesTotal === 9 && scan.filesRead <= 2,
        s"$t read ${scan.filesRead}")
      assert(scan.df.filter(col("k") === 55L).count() === 1)
      // the POLICY survived the checkpoint too: new appends build
      val v2 = TimeTravel.append(spark, t,
        Seq((500L, "a", 0.0)).toDF("k", "p", "x").repartition(1), "p")
      val s2 = TimeTravel.readVersionSkipping(spark, t, v2, "k", 500L,
        500L)
      assert(s2.filesRead <= 2)
    }
  }

  test("vacuum keeps artifacts retained versions bind and reclaims dropped ones") {
    val t = stripeTable()
    val bloomRoot = new java.io.File(s"$t/_bloom")
    assert(bloomRoot.listFiles().length === 3) // one per indexed append
    // rewrite every file (compact) then vacuum to the tip: all three
    // append artifacts are superseded by the compact's fresh one
    val vc = TimeTravel.compact(spark, t, "p", maxFilesPerDir = 1)
    TimeTravel.vacuum(spark, t, keepFrom = vc)
    assert(bloomRoot.listFiles().length === 1)
    val scan = TimeTravel.readVersionSkipping(spark, t, vc, "k", 37L, 37L)
    assert(scan.df.filter(col("k") === 37L).count() === 1)
  }

  test("policy refusals: unknown/partition/typed columns, double-add, indexed rename") {
    val t = stripeTable(index = false)
    intercept[IllegalArgumentException](
      TimeTravel.setBloomIndex(spark, t, "nope"))
    intercept[IllegalArgumentException](
      TimeTravel.setBloomIndex(spark, t, "p")) // partition column
    intercept[IllegalArgumentException](
      TimeTravel.setBloomIndex(spark, t, "x")) // DOUBLE: not bloomable
    TimeTravel.setBloomIndex(spark, t, "k")
    intercept[IllegalArgumentException](
      TimeTravel.setBloomIndex(spark, t, "k")) // double-add
    intercept[IllegalArgumentException](
      TimeTravel.renameColumn(spark, t, "k", "kk")) // indexed rename
    intercept[IllegalArgumentException](
      TimeTravel.dropBloomIndex(spark, t, "x")) // not indexed
    TimeTravel.dropBloomIndex(spark, t, "k")
    TimeTravel.renameColumn(spark, t, "k", "kk") // allowed after drop
    assert(TimeTravel.bloomIndexAt(spark, t,
      TimeTravel.latestVersion(spark, t)).isEmpty)
  }

  test("feeds compose across the metadata-only bloomidx commit") {
    val t = tmpDir("bloom-feed")
    TimeTravel.init(spark, t,
      Seq((1L, "a", 1.0)).toDF("k", "p", "x"), "p")
    val v1 = TimeTravel.latestVersion(spark, t)
    TimeTravel.setBloomIndex(spark, t, "k")
    val v3 = TimeTravel.append(spark, t,
      Seq((2L, "a", 2.0)).toDF("k", "p", "x"), "p")
    val fed = TimeTravel.readAppendsSince(spark, t, v1, v3)
      .select("k").as[Long].collect().toSet
    assert(fed === Set(2L))
  }

  test("retained filters key PHYSICAL names: a re-used logical name never joins another column's filters") {
    val t = tmpDir("bloom-colmap")
    // columns: a (stripe values 0..399, every file's range covers the
    // domain), b (9000 + a, same shape), p (partition)
    def stripe(s: Int) = (0 until 400).filter(_ % 4 == s)
      .map(v => (v.toLong, 9000L + v, "x")).toDF("a", "b", "p")
      .repartition(1)
    TimeTravel.init(spark, t, stripe(0), "p") // pre-policy: never skipped
    TimeTravel.renameColumn(spark, t, "a", "a2") // colmap: a2 → a
    TimeTravel.setBloomIndex(spark, t, "a2", 1000L, 0.001)
    (1 to 3).foreach(s => TimeTravel.append(spark, t,
      stripe(s).toDF("a2", "b", "p"), "p"))
    // the hazard chain: drop the index (bindings retained by design),
    // move the indexed logical name away, re-use it for ANOTHER column
    TimeTravel.dropBloomIndex(spark, t, "a2")
    TimeTravel.renameColumn(spark, t, "a2", "z") // colmap: z → a
    TimeTravel.renameColumn(spark, t, "b", "a2") // colmap: a2 → b
    val v = TimeTravel.latestVersion(spark, t)
    // 9005 exists in exactly one file's b column (stripe 1) and in NO
    // file's old a values: the retained filters (built over physical
    // a's bytes) must NOT "prove" it absent from the new logical a2
    // (physical b) — that would silently skip the file and lose the row
    val scan = TimeTravel.readVersionSkipping(spark, t, v, "a2",
      9005L, 9005L)
    assert(scan.df.filter(col("a2") === 9005L).count() === 1,
      "a probe on the re-used logical name joined another column's " +
        "retained filters and silently skipped a matching file")
    // and the filters KEEP pruning under the indexed column's NEW
    // name: physical keying survives the rename instead of going dark
    val hit = TimeTravel.readVersionSkipping(spark, t, v, "z", 205L, 205L)
    assert(hit.filesRead <= 2, s"expected bloom pruning on the renamed " +
      s"indexed column, read ${hit.filesRead}")
    assert(hit.df.filter(col("z") === 205L).count() === 1)
    val miss = TimeTravel.readVersionSkipping(spark, t, v, "z", 1001L,
      1001L)
    assert(miss.filesRead <= 1) // only the pre-policy init file survives
  }

  test("a DV re-add with no recorded stats stays unindexed: no footer re-read, no full-scan bloom build") {
    val t = stripeTable() // init v1, bloomidx v2, appends v3..v5
    // simulate pre-stats/pre-bloom history for stripe 1 (the v3
    // append): strip its #stats= and #bloom= lines from the record
    val delta3 = new java.io.File(s"$t/_graft_log/3.delta")
    val kept = scala.io.Source.fromFile(delta3, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#stats=") || l.startsWith("#bloom="))
      .toList
    val w = new java.io.PrintWriter(delta3, "UTF-8")
    try kept.foreach(w.println) finally w.close()
    val nBloomDirs = new java.io.File(s"$t/_bloom").listFiles().length
    // k=37 lives in stripe 1 only; with its filter stripped, the file
    // is probed (unbound files never skip) and becomes the DV target
    val vd = TimeTravel.deleteWhereDv(spark, t, col("k") === 37L, "p")
    assert(TimeTravel.readVersion(spark, t, vd).count() === 399)
    // the touched stats-less file is marked a re-add EXPLICITLY: it
    // must not be classified "fresh" — no bloom artifact built over it
    // (a full data scan) and no stats recomputed (a footer re-read)
    assert(new java.io.File(s"$t/_bloom").listFiles().length
      === nBloomDirs, "DV re-add of a stats-less file built a bloom " +
        "artifact — a full scan the O(matching rows) contract forbids")
    val rec = scala.io.Source.fromFile(
      new java.io.File(s"$t/_graft_log/$vd.delta"), "UTF-8")
      .getLines().toList
    assert(!rec.exists(_.startsWith("#stats=")),
      "DV re-add of a stats-less file recorded fresh stats — a footer " +
        "re-read the mutation's contract forbids")
  }

  test("the declarative relation's pushed equality bloom-prunes before split planning") {
    val t = stripeTable()
    val df = spark.read.format("graft-versioned").option("path", t)
      .load().filter(col("k") === 37L)
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    val nSel = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.files.length).sum
    assert(nSel <= 2, s"pushed equality should bloom-prune, planned $nSel")
    assert(df.count() === 1)
  }
}
