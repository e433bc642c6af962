package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Randomized model check of the versioned table's delta log: a random
  * commit sequence (upsert / delete / append / compact) is mirrored in a
  * driver-side multiset model, and EVERY committed version — resolved
  * through checkpoint + delta replay, across cadence checkpoints — must
  * reproduce its model snapshot exactly, both right after the run and
  * again after a mid-history VACUUM. Catches the whole class of log
  * bugs hand-written cases miss: a delta recording the wrong removes, a
  * checkpoint folding a stale file list, resolution picking the wrong
  * base, vacuum reclaiming a shared file. */
class Round10PropertySpec extends SparkSpec {

  import spark.implicits._

  private type Row3 = (Long, String, Double)

  private def df(rows: Seq[Row3]) = rows.toDF("id", "part", "v")

  /** Multiset compare: sorted sequences, not sets — append can
    * legitimately duplicate keys and a lost duplicate must fail. */
  private def content(d: org.apache.spark.sql.DataFrame): Seq[Row3] =
    d.select("id", "part", "v").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("part"),
        r.getAs[Double]("v"))).toSeq.sorted

  // the operator's documented semantics, in plain Scala
  private def upsertModel(all: Vector[Row3], batch: Vector[Row3]): Vector[Row3] = {
    val keys = batch.map(_._1).toSet
    val parts = batch.map(_._2).toSet ++
      all.filter(r => keys(r._1)).map(_._2)
    batch ++ all.filterNot(r => parts(r._2) && keys(r._1))
  }
  private def deleteModel(all: Vector[Row3], keys: Set[Long]): Vector[Row3] =
    all.filterNot(r => keys(r._1))

  test("random upsert/delete/append/compact/restore sequences: every version equals the driver-side model, before and after vacuum") {
    val rnd = new scala.util.Random(7)
    val dir = tmpDir("tt-model")
    def someRows(n: Int): Vector[Row3] =
      Vector.fill(n)((rnd.nextInt(30).toLong, s"p${rnd.nextInt(5)}",
        rnd.nextInt(100).toDouble))

    var current = someRows(8).distinctBy(_._1)
    TimeTravel.init(spark, dir, df(current), "part")
    val history = scala.collection.mutable.ArrayBuffer(current)

    (1 to 15).foreach { _ =>
      val prevVersion = TimeTravel.latestVersion(spark, dir)
      val next = rnd.nextInt(9) match {
        case 0 => // upsert a small batch (updates + inserts, distinct keys)
          val batch = someRows(1 + rnd.nextInt(3)).distinctBy(_._1)
          TimeTravel.upsert(spark, dir, df(batch), "id", "part")
          upsertModel(current, batch)
        case 1 => // delete up to 2 keys, but never empty the table
          val keys = Vector.fill(1 + rnd.nextInt(2))(rnd.nextInt(30).toLong)
            .toSet
          val survivors = deleteModel(current, keys)
          if (survivors.isEmpty) current // would be refused; skip
          else { TimeTravel.delete(spark, dir, keys.toSeq.toDF("id"),
            "id", "part"); survivors }
        case 2 => // blind append (duplicate keys allowed by contract)
          val batch = someRows(1 + rnd.nextInt(3))
          TimeTravel.append(spark, dir, df(batch), "part")
          current ++ batch
        case 3 => // compact: content identity, commits only if fragmented
          TimeTravel.compact(spark, dir, "part")
          current
        case 4 => // restore to a random earlier version: model = its snapshot
          val target = 1 + rnd.nextInt(prevVersion)
          TimeTravel.restore(spark, dir, target)
          history(target - 1)
        case 5 => // merge-on-read delete of an id band (deletion
          // vectors): same model semantics as a rewrite delete, zero
          // data files rewritten — resolution must compose the
          // re-binding commits exactly like any rewrite
          val a = rnd.nextInt(30).toLong
          val b = a + 1 + rnd.nextInt(4)
          val survivors = current.filterNot(r => r._1 >= a && r._1 < b)
          if (survivors.isEmpty) current // keep the table non-empty
          else {
            TimeTravel.deleteWhereDv(spark, dir,
              col("id") >= a && col("id") < b, "part")
            survivors
          }
        case 6 => // toggle the bloom index on `id`: a metadata-only
          // policy commit, and every data commit AFTER it also builds
          // and binds per-file filters — resolution, checkpoints, and
          // vacuum must compose through both without content drift
          if (TimeTravel.bloomIndexAt(spark, dir, prevVersion).isEmpty)
            TimeTravel.setBloomIndex(spark, dir, "id", 1000L, 0.01)
          else TimeTravel.dropBloomIndex(spark, dir, "id")
          current
        case 7 => // full OVERWRITE: the table becomes exactly the batch
          // (the declarative SaveMode.Overwrite commit) — a rewrite
          // whose removes are the WHOLE previous file set; resolution,
          // restore, and vacuum must compose through it like any commit
          val batch = someRows(2 + rnd.nextInt(4))
          TimeTravel.overwrite(spark, dir, df(batch), "part")
          batch
        case _ => // add/drop a (vacuously true) constraint: a metadata-only
          // commit every version must resolve THROUGH without content drift
          val cs = TimeTravel.constraintsAt(spark, dir, prevVersion)
          if (cs.isEmpty)
            TimeTravel.addConstraint(spark, dir, s"c$prevVersion",
              "v > -1e18")
          else TimeTravel.dropConstraint(spark, dir, cs.keys.min)
          current
      }
      // record a snapshot only if a version actually committed (no-op
      // deletes, empty appends, already-compact compacts stay at prev)
      if (TimeTravel.latestVersion(spark, dir) > prevVersion)
        history += next
      current = next
    }

    val latest = TimeTravel.latestVersion(spark, dir)
    assert(latest === history.length, "one snapshot per committed version")
    (1 to latest).foreach { v =>
      assert(content(TimeTravel.readVersion(spark, dir, v))
        === history(v - 1).sorted, s"version $v diverged from the model")
    }

    // vacuum at a mid-history floor: retained versions still exact,
    // pre-floor versions loudly gone, disk == union of retained files
    val floor = math.max(2, latest / 2)
    TimeTravel.vacuum(spark, dir, keepFrom = floor)
    (floor to latest).foreach { v =>
      assert(content(TimeTravel.readVersion(spark, dir, v))
        === history(v - 1).sorted, s"version $v broken by vacuum")
    }
    intercept[IllegalArgumentException] {
      TimeTravel.readVersion(spark, dir, floor - 1)
    }
    val retained = (floor to latest)
      .flatMap(v => TimeTravel.filesAt(spark, dir, v)).toSet
    val onDisk = {
      val base = java.nio.file.Paths.get(dir, "data")
      val stream = java.nio.file.Files.walk(base)
      try stream.toArray().collect {
        case p: java.nio.file.Path if p.toString.endsWith(".parquet") =>
          base.relativize(p).toString
      }.toSet
      finally stream.close()
    }
    assert(onDisk === retained)
  }

  test("parquet and text checkpoints resolve identically on random histories, through vacuum, restore, constraints and renames") {
    // the same seeded op sequence replayed into two tables — one with
    // parquet checkpoint sidecars (what the writer produces), one whose
    // checkpoints are rewritten as legacy full-text manifests
    // (TextCheckpoints) after every op, so later ops resolve and
    // commit on text-era bodies — must agree on EVERY version's content, the
    // history view, and post-vacuum resolution: format equivalence by
    // construction, not by parsing symmetry arguments
    // the value column's CURRENT logical name (rename arms flip it;
    // restore may flip it back — re-derived from the table, so both
    // format arms take identical decisions)
    def valueCol(dir: String): String =
      TimeTravel.readVersion(spark, dir,
          TimeTravel.latestVersion(spark, dir))
        .columns.filterNot(Set("id", "part")).head
    def contentAny(dir: String, v: Int): Seq[Row3] = {
      val d = TimeTravel.readVersion(spark, dir, v)
      val vc = d.columns.filterNot(Set("id", "part")).head
      d.select(col("id"), col("part"), col(vc)).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSeq.sorted
    }
    val rewritten = scala.collection.mutable.Set.empty[Int]
    def replay(dir: String, seed: Int, text: Boolean = false): Int = {
      val rnd = new scala.util.Random(seed)
      def someRows(n: Int): Vector[Row3] =
        Vector.fill(n)((rnd.nextInt(30).toLong, s"p${rnd.nextInt(5)}",
          rnd.nextInt(100).toDouble))
      def dfAs(rows: Seq[Row3]): org.apache.spark.sql.DataFrame =
        rows.toDF("id", "part", valueCol(dir))
      var current = someRows(8).distinctBy(_._1)
      TimeTravel.init(spark, dir, df(current), "part")
      (1 to 24).foreach { _ =>
        val prevVersion = TimeTravel.latestVersion(spark, dir)
        current = rnd.nextInt(9) match {
          case 0 =>
            val batch = someRows(1 + rnd.nextInt(3)).distinctBy(_._1)
            TimeTravel.upsert(spark, dir, dfAs(batch), "id", "part")
            upsertModel(current, batch)
          case 1 =>
            val keys = Vector.fill(1 + rnd.nextInt(2))(
              rnd.nextInt(30).toLong).toSet
            val survivors = deleteModel(current, keys)
            if (survivors.isEmpty) current
            else { TimeTravel.delete(spark, dir, keys.toSeq.toDF("id"),
              "id", "part"); survivors }
          case 2 =>
            val batch = someRows(1 + rnd.nextInt(3))
            TimeTravel.append(spark, dir, dfAs(batch), "part")
            current ++ batch
          case 3 =>
            TimeTravel.compact(spark, dir, "part"); current
          case 4 =>
            val target = 1 + rnd.nextInt(prevVersion)
            TimeTravel.restore(spark, dir, target)
            contentAny(dir, TimeTravel.latestVersion(spark, dir)).toVector
          case 5 =>
            val cs = TimeTravel.constraintsAt(spark, dir, prevVersion)
            if (cs.isEmpty)
              TimeTravel.addConstraint(spark, dir, s"c$prevVersion",
                s"${valueCol(dir)} > -1e18")
            else TimeTravel.dropConstraint(spark, dir, cs.keys.min)
            current
          case 6 => // DV delete of an id band: the binding lines must
            // serialize identically through both checkpoint formats
            val a = rnd.nextInt(30).toLong
            val b = a + 1 + rnd.nextInt(4)
            val survivors = current.filterNot(r => r._1 >= a && r._1 < b)
            if (survivors.isEmpty) current
            else {
              TimeTravel.deleteWhereDv(spark, dir,
                col("id") >= a && col("id") < b, "part")
              survivors
            }
          case 7 => // bloom-policy toggle: `#bloomidx=` policy lines and
            // every later commit's `#bloom=` bindings must also agree
            // between the text and parquet checkpoint formats
            if (TimeTravel.bloomIndexAt(spark, dir, prevVersion).isEmpty)
              TimeTravel.setBloomIndex(spark, dir, "id", 1000L, 0.01)
            else TimeTravel.dropBloomIndex(spark, dir, "id")
            current
          case _ => // metadata-only RENAME, flipping v <-> w — refused
            // while a constraint mentions the column, so skip then
            // (both arms take the same deterministic decision)
            if (TimeTravel.constraintsAt(spark, dir, prevVersion).isEmpty) {
              val from = valueCol(dir)
              TimeTravel.renameColumn(spark, dir, from,
                if (from == "v") "w" else "v")
            }
            current
        }
        if (text) rewritten ++= TextCheckpoints.rewrite(spark, dir)
      }
      TimeTravel.latestVersion(spark, dir)
    }
    def sidecars(dir: String): Seq[String] =
      Option(new java.io.File(dir, "_graft_log").list()).toSeq.flatten
        .filter(_.endsWith(".checkpoint.parquet"))

    val pqDir = tmpDir("tt-ckpt-pq")
    val txtDir = tmpDir("tt-ckpt-txt")
    val latestPq = replay(pqDir, 47)
    // the text arm: the same history, each checkpoint rewritten into
    // the full-text body the pre-parquet writer produced as it lands
    val latestTxt = replay(txtDir, 47, text = true)
    assert(rewritten.nonEmpty)
    assert(latestPq === latestTxt)
    // the formats genuinely diverge on disk...
    assert(sidecars(pqDir).nonEmpty,
      "no parquet sidecar written — the cadence never checkpointed?")
    assert(sidecars(txtDir).isEmpty)
    // ...but resolve identically at every version
    (1 to latestPq).foreach { v =>
      assert(contentAny(pqDir, v) === contentAny(txtDir, v),
        s"version $v diverged between checkpoint formats")
    }
    // history parity: op kinds and file counts (per-commit metadata)
    val hPq = TimeTravel.history(spark, pqDir)
      .map(c => (c.version, c.nAdded, c.nRemoved, c.op))
    val hTxt = TimeTravel.history(spark, txtDir)
      .map(c => (c.version, c.nAdded, c.nRemoved, c.op))
    assert(hPq === hTxt)
    // vacuum at a mid floor: both formats re-materialize a resolvable
    // floor, retained versions stay exact, sidecar residue is swept in
    // the parquet arm (only referenced sidecars survive)
    val floor = math.max(2, latestPq / 2)
    TimeTravel.vacuum(spark, pqDir, keepFrom = floor)
    TimeTravel.vacuum(spark, txtDir, keepFrom = floor)
    (floor to latestPq).foreach { v =>
      assert(contentAny(pqDir, v) === contentAny(txtDir, v),
        s"version $v diverged after vacuum")
    }
    val live = sidecars(pqDir)
    assert(live.forall(n => n.takeWhile(_ != '.').toInt >= floor),
      s"pre-floor sidecar survived vacuum: $live")
    // a TEXT-era table vacuumed now gets a parquet floor (forward
    // migration works on old logs)
    val txt2 = tmpDir("tt-ckpt-txt2")
    replay(txt2, 53, text = true)
    val latest2 = TimeTravel.latestVersion(spark, txt2)
    val before = (2 to latest2).map(v => contentAny(txt2, v))
    TimeTravel.vacuum(spark, txt2, keepFrom = 2)
    (2 to latest2).foreach { v =>
      assert(contentAny(txt2, v) === before(v - 2),
        s"migrated version $v diverged")
    }
  }

  test("random histories with changeFeed on: the feed reconstructs every commit's model changes exactly") {
    val rnd = new scala.util.Random(13)
    val dir = tmpDir("tt-cdc-model")
    def someRows(n: Int): Vector[Row3] =
      Vector.fill(n)((rnd.nextInt(25).toLong, s"p${rnd.nextInt(4)}",
        rnd.nextInt(100).toDouble))

    var current = someRows(6).distinctBy(_._1)
    TimeTravel.init(spark, dir, df(current), "part")
    // expected (version -> change_type -> multiset of rows), from the
    // operators' documented semantics replayed in plain Scala
    val expected = scala.collection.mutable.Map
      .empty[Int, Map[String, Seq[Row3]]]

    (1 to 10).foreach { _ =>
      val prev = TimeTravel.latestVersion(spark, dir)
      rnd.nextInt(4) match {
        case 0 => // CDC upsert
          val batch = someRows(1 + rnd.nextInt(3)).distinctBy(_._1)
          val v = TimeTravel.upsert(spark, dir, df(batch), "id", "part",
            changeFeed = true)
          val existing = current.map(_._1).toSet
          expected(v) = Map(
            "update_preimage" ->
              current.filter(r => batch.exists(_._1 == r._1)),
            "update_postimage" -> batch.filter(r => existing(r._1)),
            "insert" -> batch.filterNot(r => existing(r._1)))
            .filter(_._2.nonEmpty)
          current = upsertModel(current, batch)
        case 1 => // CDC delete
          val keys = Vector.fill(1 + rnd.nextInt(2))(rnd.nextInt(25).toLong)
            .toSet
          val survivors = deleteModel(current, keys)
          val doomed = current.filter(r => keys(r._1))
          if (survivors.nonEmpty && doomed.nonEmpty) {
            val v = TimeTravel.delete(spark, dir, keys.toSeq.toDF("id"),
              "id", "part", changeFeed = true)
            expected(v) = Map("delete" -> doomed)
            current = survivors
          }
        case 2 => // CDC deletion-vector delete: the feed must capture
          // exactly the NEWLY hidden rows (already-DV'd positions are
          // invisible to the probe — never re-captured)
          val a = rnd.nextInt(25).toLong
          val b = a + 1 + rnd.nextInt(3)
          val doomed = current.filter(r => r._1 >= a && r._1 < b)
          val survivors = current.filterNot(r => r._1 >= a && r._1 < b)
          if (survivors.nonEmpty && doomed.nonEmpty) {
            val v = TimeTravel.deleteWhereDv(spark, dir,
              col("id") >= a && col("id") < b, "part", changeFeed = true)
            expected(v) = Map("delete" -> doomed)
            current = survivors
          }
        case _ => // append: its add files ARE the inserts
          val batch = someRows(1 + rnd.nextInt(3))
          val v = TimeTravel.append(spark, dir, df(batch), "part")
          if (v > prev) {
            expected(v) = Map("insert" -> batch)
            current = current ++ batch
          }
      }
    }

    val latest = TimeTravel.latestVersion(spark, dir)
    val feed = TimeTravel.readChangesSince(spark, dir, 1)
    val got = feed.collect()
      .map(r => ((r.getAs[Int](TimeTravel.CommitVersionCol),
        r.getAs[String](TimeTravel.ChangeTypeCol)),
        (r.getAs[Long]("id"), r.getAs[String]("part"),
          r.getAs[Double]("v"))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    val want = expected.toSeq.flatMap { case (v, byType) =>
      byType.map { case (t, rows) => (v, t) -> rows.sorted } }.toMap
    assert(got === want)
    // the final version equals the model — the feed and the table agree
    assert(content(TimeTravel.readVersion(spark, dir, latest))
      === current.sorted)
  }

  test("random key-range probes: the skipping scan's filtered content always equals the full read's") {
    val rnd = new scala.util.Random(29)
    val dir = tmpDir("tt-skip-model")
    def batch(lo: Long, hi: Long): Vector[Row3] =
      (lo to hi).map(i => (i, s"p${i % 3}", i.toDouble)).toVector
    // random, possibly-overlapping key slabs — stats bounds overlap too
    var all = batch(1, 20)
    TimeTravel.init(spark, dir, df(all), "part")
    (1 to 6).foreach { _ =>
      val lo = 1 + rnd.nextInt(180).toLong
      val b = batch(lo, lo + 5 + rnd.nextInt(30))
      TimeTravel.append(spark, dir, df(b), "part")
      all = all ++ b
    }
    val v = TimeTravel.latestVersion(spark, dir)
    (1 to 12).foreach { _ =>
      val lo = rnd.nextInt(220).toLong
      val hi = lo + rnd.nextInt(60)
      val scan = TimeTravel.readVersionSkipping(spark, dir, v, "id", lo, hi)
      assert(scan.filesRead <= scan.filesTotal)
      val got = content(scan.df.filter(col("id").between(lo, hi)))
      assert(got === all.filter(r => r._1 >= lo && r._1 <= hi).sorted,
        s"probe [$lo, $hi] diverged")
    }
  }
}
