package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.scalacheck.Gen

import graft.SparkSpec

/** The versioned table's log codec ([[LogRecord]]): golden records, a
  * seeded round-trip property, and the per-version read rules of
  * [[TimeTravel.recordAt]].
  *
  * The golden records under `src/test/resources/graft/operators/
  * logrecord/` were written by the line-helper writers this codec
  * replaced, one per record shape: a delta carrying every line kind
  * (written through the delta writer directly, with hostile strings),
  * `init` and `initEmpty` v1 manifests (the latter with `#partcols=`,
  * partitioned and not), a cadence checkpoint header and its delta, the
  * same checkpoint as a full-text body, and a vacuum floor rewritten
  * to carry txn marks. Each must parse and re-encode byte for byte (a
  * log the old writers left reads identically), and the writers here,
  * driven through the same operations, must reproduce them with only
  * the wall-clock and the random tokens and names differing. */
class LogRecordSpec extends SparkSpec {

  import spark.implicits._

  private def golden(name: String): String = {
    val in = getClass.getResourceAsStream(s"/graft/operators/logrecord/$name")
    require(in != null, s"missing golden record $name")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def parse(text: String): LogRecord =
    LogRecord.parse(scala.io.Source.fromString(text).getLines())

  private def text(r: LogRecord): String = new String(r.encode, "UTF-8")

  private def onDisk(p: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8")

  /** Wall-clock, commit tokens and Spark's per-job file-name UUIDs vary
    * per run; everything else in a record is determined by its
    * content. */
  private def normalized(s: String): String = s
    .replaceAll("#ts=\\d+", "#ts=T")
    .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
      "UUID")
    .replaceAll("(?<![0-9a-f])[0-9a-f]{12}(?![0-9a-f])", "TOKEN")

  private def kinds(s: String): Seq[String] = s.split("\n").toSeq.map { l =>
    if (l.startsWith("#")) l.takeWhile(_ != '=') else l.take(1) match {
      case "+" | "-" => l.take(1)
      case _ => "<path>"
    }
  }

  private val allKindsSchema = StructType(Seq(StructField("k", LongType),
    StructField("p", StringType), StructField("w é|=", DoubleType)))
  private val a = "p=a/0123456789ab-0-part-0.parquet"
  private val b = "p=b%3Dc/0123456789ab-1-part-0 x+1.parquet"

  /** The content of golden `delta_all.txt`, as the record a commit
    * hands the delta writer. */
  private val allKinds = LogRecord(
    txns = Seq(("stream:1 é|=%,+", 7L)), schema = Some(allKindsSchema),
    constraints = Map("pos|k" -> "k > 0", "p ok" -> "p <> 'a=b,c:d'"),
    colmap = Map("w é|=" -> "x"), coldrop = Set("old col", "z:1"),
    bloomIdx = Map("k" -> ((1000L, 0.01)), "p q" -> ((50L, 0.001))),
    op = Some("merge"), cdc = Some("cdc000000001"),
    stats = Map(a -> "k=1:9;w+%C3%A9%7C%3D=0.5:2.5;!rows=3;!bytes=100",
      b -> "k=10:10;!rows=1;!bytes=90"),
    dvs = Map(a -> "dv0000000001"),
    blooms = Map(a -> "bl0000000001", b -> "bl0000000002"),
    adds = Seq(a, b), removes = Seq("p=a/fedcba987654-0-part-0.parquet"))

  test("golden records of every shape parse and re-encode byte for byte") {
    Seq("delta_all.txt", "init_manifest.txt", "initempty_manifest.txt",
        "initempty_unpart_manifest.txt", "cadence_header.txt",
        "cadence_delta.txt", "cadence_text.txt", "floor_rewritten.txt")
      .foreach { n =>
        val g = golden(n)
        assert(text(parse(g)) === g, n)
      }
    // the delta: every line kind, read back as the content written
    val d = parse(golden("delta_all.txt"))
    assert(d.copy(protocol = None, ts = None) === allKinds)
    assert(d.protocol === Some((3, 3)) && d.ts.isDefined)
    // init and initEmpty manifests
    val init = parse(golden("init_manifest.txt"))
    assert(init.txns === Seq(("s1", 0L)) && init.op === Some("init"))
    assert(init.files.size === 2 && init.stats.keySet === init.files.toSet)
    assert(parse(golden("initempty_manifest.txt")).partCols ===
      Some(Seq("d", "p")))
    assert(parse(golden("initempty_unpart_manifest.txt")).partCols ===
      Some(Nil))
    // checkpoint header and the floor rewritten to carry txn marks
    val h = parse(golden("cadence_header.txt"))
    assert(h.nfiles === Some(8) && h.sidecar.isDefined && h.files.isEmpty)
    assert(h.colmap === Map("y" -> "x") && h.protocol === Some((2, 2)))
    val f = parse(golden("floor_rewritten.txt"))
    assert(f.txns === Seq(("stream 0:x", 10L), ("stream 1:x", 9L)))
    assert(f.ts === parse(golden("cadence_delta.txt")).ts,
      "a rewritten floor keeps the original commit's wall-clock")
  }

  test("the writers reproduce the golden records") {
    // the delta writer, fed the golden delta's content
    val t = tmpDir("lr-delta")
    val fs = TimeTravel.hadoopFs(spark, t)
    val landed = TimeTravel.writeDelta(fs, t, 2, allKinds, LogRecord())
    val g = golden("delta_all.txt")
    assert(onDisk(s"$t/_graft_log/2.delta") ===
      g.replaceAll("#ts=\\d+", s"#ts=${landed.ts.get}"))
    // init and initEmpty
    val ti = tmpDir("lr-init")
    TimeTravel.init(spark, ti, Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("k", "p", "x").repartition(1), "p", txn = Some(("s1", 0L)))
    assert(normalized(onDisk(s"$ti/_graft_log/1.manifest")) ===
      normalized(golden("init_manifest.txt")))
    val te = tmpDir("lr-empty")
    TimeTravel.initEmpty(spark, te, StructType(Seq(
      StructField("k", LongType), StructField("d", StringType),
      StructField("p", StringType))), "d,p")
    assert(normalized(onDisk(s"$te/_graft_log/1.manifest")) ===
      normalized(golden("initempty_manifest.txt")))
    val te2 = tmpDir("lr-empty2")
    TimeTravel.initEmpty(spark, te2, StructType(Seq(
      StructField("k", LongType), StructField("x", StringType))), "")
    assert(normalized(onDisk(s"$te2/_graft_log/1.manifest")) ===
      normalized(golden("initempty_unpart_manifest.txt")))
    // a cadence checkpoint on a table with every policy line, then the
    // vacuum floor that rewrites it to carry the dropped txn marks
    def cadenceTable(prefix: String): String = {
      val tc = tmpDir(prefix)
      TimeTravel.init(spark, tc, (0 until 4).map(i => (i.toLong,
        s"p${i % 2}", i * 1.0)).toDF("k", "p", "x").repartition(1), "p")
      TimeTravel.addConstraint(spark, tc, "k nonneg", "k >= 0")
      TimeTravel.setBloomIndex(spark, tc, "k", 1000L, 0.01)
      TimeTravel.renameColumn(spark, tc, "x", "y")
      (5 to 10).foreach { s =>
        TimeTravel.append(spark, tc, Seq((100L + s, "p0", s * 1.0))
          .toDF("k", "p", "y").repartition(1), "p",
          txn = Some((s"stream ${s % 2}:x", s.toLong)))
      }
      tc
    }
    val tc = cadenceTable("lr-cadence")
    Seq("10.manifest" -> "cadence_header.txt",
        "10.delta" -> "cadence_delta.txt").foreach { case (f, n) =>
      assert(normalized(onDisk(s"$tc/_graft_log/$f")) ===
        normalized(golden(n)), n)
    }
    TimeTravel.vacuum(spark, tc, keepFrom = 10)
    assert(normalized(onDisk(s"$tc/_graft_log/10.manifest")) ===
      normalized(golden("floor_rewritten.txt")))
    // the text-era body the test helper builds is the one the old
    // full-text checkpoint writer wrote: same lines, same order of line
    // kinds (the files' own order follows their random commit tokens)
    val tt = cadenceTable("lr-text")
    assert(TextCheckpoints.rewrite(spark, tt) === Seq(10))
    val live = onDisk(s"$tt/_graft_log/10.manifest")
    val old = golden("cadence_text.txt")
    assert(kinds(live) === kinds(old))
    assert(normalized(live).split("\n").sorted.toSeq ===
      normalized(old).split("\n").sorted.toSeq)
  }

  // hostile text: every separator the grammar uses, percent signs,
  // spaces, non-ASCII (a surrogate pair included)
  private val hostile: Gen[String] = Gen.listOf(Gen.oneOf(
    "|", "=", "%", ",", ":", "+", " ", "-", "#", "/", "é", "中", "😀",
    "a", "b", "z", "0", "9", "_", "%2B", "'")).map(_.mkString)
  /** A file line that [[LogRecord.parse]] reads back as a file: not
    * starting like a metadata, add or remove line (a checkpoint's
    * `+`/`-` paths go through [[LogRecord.asCheckpoint]], tested on
    * its own). */
  private val nonEmpty: Gen[String] =
    Gen.zip(Gen.alphaNumChar, hostile).map { case (c, s) => s"$c$s" }
  private def mapOf[V](v: Gen[V]): Gen[Map[String, V]] =
    Gen.mapOfN(4, Gen.zip(hostile, v))

  private val genRecord: Gen[LogRecord] = for {
    protocol <- Gen.option(Gen.zip(Gen.choose(1, 99), Gen.choose(1, 99)))
    txns <- Gen.listOfN(3, Gen.zip(hostile, Gen.choose(0L, Long.MaxValue)))
    schema <- Gen.option(Gen.nonEmptyListOf(Gen.zip(hostile,
        Gen.oneOf(LongType, StringType, DoubleType, DateType, BooleanType),
        Gen.oneOf(true, false)))
      .map(fs => StructType(fs.zipWithIndex.map { case ((n, t, nl), i) =>
        StructField(s"$n$i", t, nl) })))
    partCols <- Gen.option(Gen.listOfN(3, nonEmpty))
    constraints <- mapOf(hostile)
    colmap <- mapOf(hostile)
    coldrop <- Gen.listOfN(3, hostile).map(_.toSet)
    bloomIdx <- mapOf(Gen.zip(Gen.choose(1L, Long.MaxValue),
      Gen.choose(1e-9, 0.999)))
    op <- Gen.option(hostile)
    cdc <- Gen.option(hostile)
    ts <- Gen.option(Gen.choose(Long.MinValue, Long.MaxValue))
    nfiles <- Gen.option(Gen.choose(0, Int.MaxValue))
    sidecar <- Gen.option(hostile)
    stats <- mapOf(hostile)
    dvs <- mapOf(hostile)
    blooms <- mapOf(hostile)
    files <- Gen.listOfN(4, nonEmpty).map(_.sorted)
    adds <- Gen.listOfN(4, hostile).map(_.sorted)
    removes <- Gen.listOfN(4, hostile).map(_.sorted)
  } yield LogRecord(protocol, txns, schema, partCols, constraints, colmap,
    coldrop, bloomIdx, op, cdc, ts, nfiles, sidecar, stats, dvs, blooms,
    files, adds, removes)

  test("parse(encode(r)) == r on seeded random records with hostile strings") {
    for (trial <- 1 to 500) {
      val r = genRecord.pureApply(Gen.Parameters.default.withSize(8),
        org.scalacheck.rng.Seed(trial.toLong))
      assert(parse(text(r)) === r, s"trial $trial: ${text(r)}")
    }
  }

  test("an unknown #future= line is skipped, wherever it sits") {
    val g = golden("delta_all.txt")
    val ls = g.split("\n").toSeq
    (0 to ls.size).foreach { i =>
      val withFuture = (ls.take(i) :+ "#future=x|y z" :+ "#") ++ ls.drop(i)
      assert(parse(withFuture.mkString("\n")) === parse(g))
    }
    // and on disk: a table whose records carry a future action reads on
    val t = tmpDir("lr-future")
    TimeTravel.init(spark, t, Seq((1L, "a", 1.0)).toDF("k", "p", "x"), "p")
    val v = TimeTravel.append(spark, t, Seq((2L, "a", 2.0))
      .toDF("k", "p", "x"), "p")
    val d = new java.io.File(s"$t/_graft_log/$v.delta")
    val body = onDisk(d.getPath)
    java.nio.file.Files.write(d.toPath,
      ("#future=1\n" + body).getBytes("UTF-8"))
    new java.io.File(s"$t/_graft_log/.$v.delta.crc").delete()
    assert(TimeTravel.readVersion(spark, t, v).count() === 2)
    assert(TimeTravel.history(spark, t).head.op === Some("append"))
  }

  test("a checkpoint partitioned on a column starting with + or - resolves its file lines as files") {
    // such a manifest's file lines start like an add or a remove line:
    // the full-text v1 init writes, a text-era cadence checkpoint and
    // the vacuum that reads both must still take them as files
    val m = parse("#protocol=1/1\n#op=init\n-x=1/a.parquet\n+y=2/b.parquet\nc")
    assert(m.removes === Seq("x=1/a.parquet") && m.adds === Seq("y=2/b.parquet"))
    assert(m.asCheckpoint === m.copy(adds = Nil, removes = Nil,
      files = Seq("c", "+y=2/b.parquet", "-x=1/a.parquet")))
    Seq("-x", "+y").foreach { pc =>
      val t = tmpDir("lr-sign")
      def batch(ks: Seq[Long]) =
        ks.map(k => (k, s"p${k % 3}", k * 1.0)).toDF("k", pc, "v")
      TimeTravel.init(spark, t, batch(0L until 6L), pc)
      val v1Files = onDisk(s"$t/_graft_log/1.manifest").split("\n").toSeq
        .filterNot(_.startsWith("#"))
      assert(v1Files.nonEmpty && v1Files.forall(_.startsWith(s"$pc=")))
      assert(TimeTravel.filesAt(spark, t, 1) === v1Files.sorted)
      assert(TimeTravel.readVersion(spark, t, 1).count() === 6)
      assert(TimeTravel.partitionColumns(spark, t) === Seq(pc))
      (2 to 9).foreach(v => TimeTravel.append(spark, t,
        batch(Seq(10L * v, 10L * v + 1)), pc))
      assert(TimeTravel.compact(spark, t, pc) === 10)
      assert(TextCheckpoints.rewrite(spark, t) === Seq(10))
      val hist = TimeTravel.history(spark, t)
        .map(c => c.version -> (c.nAdded, c.nRemoved)).toMap
      assert(hist(1) === ((v1Files.size, 0)))
      assert(hist(10)._1 === TimeTravel.filesAt(spark, t, 10).size)
      TimeTravel.append(spark, t, batch(Seq(100L)), pc)
      assert(TimeTravel.readVersion(spark, t, 10).count() === 22)
      assert(TimeTravel.readVersion(spark, t, 11).count() === 23)
      // v1's files are committed history the compaction removed: the
      // vacuum reclaims them at once (an unreferenced file would wait
      // out the orphan age guard)
      def onDiskNow(f: String) = new java.io.File(s"$t/data/$f").exists()
      assert(v1Files.forall(onDiskNow))
      TimeTravel.vacuum(spark, t, keepFrom = 10)
      assert(!v1Files.exists(onDiskNow), pc)
      assert(TimeTravel.readVersion(spark, t, 11).count() === 23)
    }
  }

  test("recordAt: which file answers, the schema fall-through, gating and the header-only timestamp read") {
    val t = tmpDir("lr-rules")
    val fs = TimeTravel.hadoopFs(spark, t)
    def put(name: String, lines: String*): Unit = {
      val out = fs.create(new Path(s"$t/_graft_log/$name"), true)
      try out.write(lines.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    val s1 = StructType(Seq(StructField("k", LongType)))
    val s2 = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    // v3: delta without #schema= next to a manifest that has one
    put("3.delta", "#protocol=1/1", "#constraint=c1|k+%3E+0",
      "#colmap=a|b", "#bloomidx=k 10 0.1", "#txn=s:3", "#op=append",
      "#ts=30", "+f3")
    put("3.manifest", "#protocol=2/2", s"#schema=${s1.json}",
      "#constraint=c2|k+%3C+0", "#bloomidx=z 5 0.5", "#op=append",
      "#ts=31", "#nfiles=9", "#filesbody=parquet:tok")
    val r3 = TimeTravel.recordAt(fs, t, 3)
    assert(r3.requirement === ((2, 2)), "protocol: max of both files")
    assert(r3.schema === Some(s1), "schema falls through to the manifest")
    assert(r3.constraints === Map("c1" -> "k > 0") &&
      r3.colmap === Map("a" -> "b") &&
      r3.bloomIdx === Map("k" -> ((10L, 0.1))) &&
      r3.txns === Seq(("s", 3L)) && r3.ts === Some(30L),
      "everything else from the delta alone")
    // v4: manifest only — it answers for every field
    put("4.manifest", s"#schema=${s1.json}", "#constraint=c2|k+%3C+0",
      "#txn=s:4", "#ts=40", "f4")
    val r4 = TimeTravel.recordAt(fs, t, 4)
    assert(r4.constraints === Map("c2" -> "k < 0") &&
      r4.txns === Seq(("s", 4L)) && r4.files === Seq("f4") &&
      r4.requirement === ((1, 1)))
    // v5: the delta's own schema wins over the manifest's
    put("5.delta", "#protocol=1/1", s"#schema=${s2.json}", "+f5")
    put("5.manifest", "#protocol=1/1", s"#schema=${s1.json}", "f5")
    assert(TimeTravel.recordAt(fs, t, 5).schema === Some(s2))
    // v6: no record at all reads as the empty record
    assert(TimeTravel.recordAt(fs, t, 6) === LogRecord())
    // v7: a manifest requiring a future reader refuses even when the
    // delta answers — every parse passes the reader gate
    put("7.delta", "#protocol=1/1", "+f7")
    put("7.manifest", "#protocol=99/99", "f7")
    val e = intercept[IllegalStateException](TimeTravel.recordAt(fs, t, 7))
    assert(e.getMessage.contains("reader protocol version 99"))
    // v8/v9: the timestamp read stops at the first #stats= or file line
    put("8.manifest", "#protocol=1/1", "#op=init", "#stats=f8|!rows=1",
      "#ts=80", "f8")
    put("9.manifest", "#protocol=1/1", "#op=init", "f9", "#ts=90")
    put("10.manifest", "#protocol=1/1", "#ts=100", "#stats=f|!rows=1", "f")
    assert(TimeTravel.commitTimestamp(fs, t, 8) === None)
    assert(TimeTravel.commitTimestamp(fs, t, 9) === None)
    assert(TimeTravel.commitTimestamp(fs, t, 10) === Some(100L))
    assert(TimeTravel.commitTimestamp(fs, t, 3) === Some(30L),
      "the delta answers the timestamp")
  }
}
