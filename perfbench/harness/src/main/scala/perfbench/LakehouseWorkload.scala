package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.TimeTravel
import graft.streaming.VersionedStream

/** Writes beside reads on one versioned table: `orders` partitioned by
  * `o_orderpriority`, then untimed prelude commits that take the table
  * to v7, so the timed commits cross the v10 checkpoint that TimeTravel
  * writes every tenth version and later reads resolve through it. Then a
  * seeded stream of cycles. Each cycle runs every
  * operation kind once, in the order of `Kinds`: four commits (append,
  * upsert, deleteWhere, updateWhereDv) with a read after each (the latest
  * version, an older version, a stats-skipping range read on
  * `o_totalprice`), then compactSmallFiles over the cycle's small files
  * and one change-feed trigger (`Trigger.AvailableNow` over a checkpoint)
  * that delivers the cycle's commits. A run is whole cycles, so every run
  * measures the same mix in the same order (an operation's cost depends on
  * what ran before it); the seed picks keys, batches, ranges and the
  * version read as of. Every commit records its change rows, so the feed
  * can deliver updates and deletes. A driver-side model holds the table's
  * content at every version; each read and each trigger is checked
  * against it, and each commit must land at the next version (or at the
  * same one when it changes nothing). */
final class LakehouseWorkload(spark: SparkSession, tr: Trace, seed: Long,
    work: String) extends Workload {
  import LakehouseWorkload._

  private var model: Model = _
  private var warmModel: Model = _

  def generate(rep: Int): Unit = {
    val dir = s"$work/table-$rep"
    Dirs.delete(new File(dir))
    val orders = Gen.orders(seed, Orders)
    tr.span("operators.TimeTravel.init") {
      TimeTravel.init(spark, dir, frame(spark, orders), Part)
    }
    val m = new Model(dir, s"$work/feed-$rep", orders, new Random(seed + 17))
    // the first table absorbs the warm-up; the last one is measured
    if (rep == 0) warmModel = m
    else {
      if (model != null) Dirs.delete(new File(model.dir))
      model = m
    }
  }

  /** `WarmCycles` whole cycles on the first table, then the measured
    * table's prelude. The operations are small enough that the JIT keeps
    * speeding them up for several cycles (upsert takes 2.5 s in the first
    * cycle after one warm-up cycle, 1.6 s in the fourth), and a timed cycle
    * on that slope varies by ±15% between runs. */
  def warm(): Unit = {
    (1 to WarmCycles).foreach(_ => Kinds.foreach(warmModel.runChecked(_, "warm-up")))
    Dirs.delete(new File(warmModel.dir))
    model.prelude()
  }

  def op(i: Int): Outcome = model.run(model.next())

  override def unitDone: Boolean = model.atCycleStart
  def unitSeconds: Double = 8.0

  override def finish(traced: Boolean): Map[String, Any] = Map(
    "table_bytes_start" -> model.bytesAtStart,
    "table_bytes_end" -> Dirs.bytes(new File(model.dir)),
    "log_entries" -> Option(new File(model.dir, "_graft_log").list())
      .map(_.length).getOrElse(0),
    "live_files" -> TimeTravel.filesAt(spark, model.dir, model.version).size,
    "version" -> model.version)

  private def frame(spark: SparkSession, rows: Seq[Gen.Order]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(o => Row(o.key,
      o.custKey, o.status, o.price, new java.sql.Timestamp(o.dateMillis),
      o.priority)): _*), Schema)

  /** The table plus its driver-side model: live rows by key and the
    * (row count, price sum in cents) of every committed version. */
  private final class Model(val dir: String, feedDir: String,
      init: Seq[Gen.Order], rng: Random) {
    private val rows = mutable.HashMap.empty[Long, Gen.Order]
    private val keys = mutable.ArrayBuffer.empty[Long]
    private val slot = mutable.HashMap.empty[Long, Int]
    private val history = mutable.HashMap.empty[Int, (Long, Long)]
    private var nextKey = 0L
    private var cents = 0L
    var version: Int = 1
    private var cycle: List[String] = Nil
    private var feedCursor = 1
    private var feedSince = 1
    var bytesAtStart: Long = Dirs.bytes(new File(dir))

    init.foreach(put)
    history(1) = state

    private def state = (rows.size.toLong, cents)

    private def put(o: Gen.Order): Unit = {
      rows.get(o.key).foreach(old => cents -= old.cents)
      if (!rows.contains(o.key)) { slot(o.key) = keys.size; keys += o.key }
      rows(o.key) = o
      cents += o.cents
      nextKey = math.max(nextKey, o.key + 1)
    }

    private def remove(k: Long): Unit = rows.remove(k).foreach { o =>
      cents -= o.cents
      val at = slot.remove(k).get
      val last = keys.remove(keys.size - 1)
      if (last != k) { keys(at) = last; slot(last) = at }
    }

    /** Record a commit's version; None when it is the one expected. */
    private def commitDone(v: Int, changes: Boolean): Option[String] = {
      val want = if (changes) version + 1 else version
      if (v != version) {
        version = v
        history(v) = state
      }
      if (v == want || (!changes && v == want + 1)) None
      else Some(s"committed v$v, expected v$want")
    }

    def runChecked(kind: String, phase: String): Unit =
      run(kind).check().foreach(p => throw new IllegalStateException(s"$phase $kind: $p"))

    /** Untimed commits before the timed ones: PreludeAppends appends, then
      * a compaction of their small files (v7 when it lands). The change
      * feed and the space accounting start after them. */
    def prelude(): Unit = {
      (Seq.fill(PreludeAppends)("append") :+ "compactSmallFiles")
        .foreach(runChecked(_, "prelude"))
      feedSince = version
      feedCursor = version
      bytesAtStart = Dirs.bytes(new File(dir))
    }

    /** The next operation of the stream. */
    def next(): String = {
      if (cycle.isEmpty) cycle = Kinds.toList
      val k = cycle.head
      cycle = cycle.tail
      k
    }

    def atCycleStart: Boolean = cycle.isEmpty

    private def randomKey(): Long = keys(rng.nextInt(keys.size))

    private def agg(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(round(col("o_totalprice") * 100).cast(LongType)), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    private def expect(what: String, got: (Long, Long),
        want: (Long, Long)): Option[String] =
      if (got == want) None else Some(s"$what: (rows, cents) $got != $want")

    /** A commit submitting `rowsSubmitted` rows; one that submits none
      * (compaction, an empty range) may or may not land a version. */
    private def commit(kind: String, rowsSubmitted: Long)(f: => Int): Outcome = {
      val v = tr.span(s"operators.TimeTravel.$kind")(f)
      Outcome(kind, rows = rowsSubmitted, extra = Map("class" -> "commit",
        "version" -> v), check = () => commitDone(v, rowsSubmitted > 0))
    }

    private def latestVersion(): Int =
      tr.span("operators.TimeTravel.latestVersion")(
        TimeTravel.latestVersion(spark, dir))

    def run(kind: String): Outcome = kind match {
      case "append" =>
        val batch = Seq.fill(AppendRows)(Gen.order(rng, 0L)).zipWithIndex
          .map { case (o, j) => o.copy(key = nextKey + j) }
        val out = commit(kind, batch.size) {
          TimeTravel.append(spark, dir, frame(spark, batch), Part)
        }
        batch.foreach(put)
        out
      case "upsert" =>
        // half updates of live keys (one in ten moving partition), half
        // inserts of new keys
        val upd = Seq.fill(UpsertRows / 2)(randomKey()).distinct.map { k =>
          val o = rows(k)
          val fresh = Gen.order(rng, k)
          o.copy(cents = fresh.cents,
            priority = if (rng.nextInt(10) == 0) fresh.priority else o.priority)
        }
        val ins = (0 until UpsertRows / 2).map(j => Gen.order(rng, nextKey + j))
        val batch = upd ++ ins
        val out = commit(kind, batch.size) {
          TimeTravel.upsert(spark, dir, frame(spark, batch), Key, Part,
            changeFeed = true)
        }
        batch.foreach(put)
        out
      case "deleteWhere" =>
        val lo = randomKey()
        val doomed = (lo until lo + DeleteSpan).filter(rows.contains)
        val out = commit(kind, doomed.size) {
          TimeTravel.deleteWhere(spark, dir,
            col(Key) >= lo && col(Key) < lo + DeleteSpan, Part, changeFeed = true)
        }
        doomed.foreach(remove)
        out
      case "updateWhereDv" =>
        val lo = randomKey()
        val hit = (lo until lo + UpdateSpan).filter(rows.contains)
        val out = commit(kind, hit.size) {
          TimeTravel.updateWhereDv(spark, dir,
            col(Key) >= lo && col(Key) < lo + UpdateSpan,
            Map("o_totalprice" -> (col("o_totalprice") + 1.0)), Part,
            changeFeed = true)
        }
        hit.foreach(k => put(rows(k).copy(cents = rows(k).cents + 100)))
        out
      case "compactSmallFiles" =>
        commit(kind, 0L) {
          TimeTravel.compactSmallFiles(spark, dir, Part, SmallFileBytes)
        }
      case "latest" =>
        val v = latestVersion()
        val got = tr.span("operators.TimeTravel.readVersion_latest")(
          agg(TimeTravel.readVersion(spark, dir, v)))
        val want = state
        Outcome("readVersion_latest", extra = Map("class" -> "read"),
          check = () =>
            if (v != version) Some(s"latestVersion $v, model at $version")
            else expect(s"v$v", got, want))
      case "asof" =>
        val v = latestVersion()
        val at = 1 + rng.nextInt(math.max(1, v - 1))
        val got = tr.span("operators.TimeTravel.readVersion_asof")(
          agg(TimeTravel.readVersion(spark, dir, at)))
        Outcome("readVersion_asof", extra = Map("class" -> "read"),
          check = () => expect(s"as of v$at", got, history(at)))
      case "skipping" =>
        val v = latestVersion()
        val loC = PriceLoCents + rng.nextInt((PriceSpanCents - PriceWindowCents).toInt)
        val hiC = loC + PriceWindowCents
        val (got, read, total) = tr.span("operators.TimeTravel.readVersionSkipping") {
          val s = TimeTravel.readVersionSkipping(spark, dir, v, "o_totalprice",
            (loC - 1) / 100.0, (hiC + 1) / 100.0)
          val cents = round(col("o_totalprice") * 100).cast(LongType)
          (agg(s.df.filter(cents >= loC && cents <= hiC)), s.filesRead, s.filesTotal)
        }
        val want = rows.valuesIterator.filter(o => o.cents >= loC && o.cents <= hiC)
          .foldLeft((0L, 0L)) { case ((n, c), o) => (n + 1, c + o.cents) }
        Outcome("readVersionSkipping",
          extra = Map("class" -> "read", "files_read" -> read,
            "files_total" -> total),
          check = () => expect(s"price range at v$v", got, want))
      case "feed" =>
        val from = feedCursor
        val upTo = version
        val delivered = mutable.HashMap.empty[Int, (Long, Long)]
          .withDefaultValue((0L, 0L))
        val collectBatch: (DataFrame, Long) => Unit = (b, _) => {
          val sign = when(col(TimeTravel.ChangeTypeCol).isin("insert",
            "update_postimage"), 1L).otherwise(-1L)
          b.groupBy(col(TimeTravel.CommitVersionCol))
            .agg(sum(sign), sum(sign * round(col("o_totalprice") * 100).cast(LongType)))
            .collect().foreach { r =>
              val v = r.getInt(0)
              val (n, c) = delivered(v)
              delivered(v) = (n + r.getLong(1), c + r.getLong(2))
            }
        }
        val rowsIn = tr.span("streaming.VersionedStream.trigger") {
          val q = VersionedStream.readStream(spark, dir,
              sinceVersion = Some(feedSince), changeFeed = true)
            .writeStream.foreachBatch(collectBatch)
            .option("checkpointLocation", feedDir)
            .trigger(Trigger.AvailableNow()).start()
          tr.current.foreach(s => tr.streamSpans.put(q.id.toString, s.id))
          q.awaitTermination()
          q.recentProgress.map(_.numInputRows).sum
        }
        feedCursor = upTo
        Outcome("feed", extra = Map("class" -> "feed",
          "rows_delivered" -> rowsIn, "versions" -> (upTo - from)),
          check = () => {
            val wrong = (from + 1 to upTo).flatMap { v =>
              val (n0, c0) = history(v - 1)
              val (n1, c1) = history(v)
              val want = (n1 - n0, c1 - c0)
              if (delivered(v) == want) None
              else Some(s"v$v delivered ${delivered(v)}, changed $want")
            } ++ delivered.keys.filter(v => v <= from || v > upTo)
              .map(v => s"v$v delivered outside ($from, $upTo]")
            if (wrong.isEmpty) None else Some(wrong.mkString("; "))
          })
    }
  }
}

object LakehouseWorkload {
  val Orders = 15000
  val Part = "o_orderpriority"
  val Key = "o_orderkey"
  val AppendRows = 200
  val UpsertRows = 200
  val DeleteSpan = 40
  val PreludeAppends = 5
  val WarmCycles = 2
  val UpdateSpan = 100
  val Kinds: Seq[String] = Seq("append", "latest", "upsert", "asof",
    "deleteWhere", "skipping", "updateWhereDv", "compactSmallFiles", "feed")
  /** Files under this size are folded by compactSmallFiles; the initial
    * per-partition files are larger. */
  val SmallFileBytes: Long = 256L * 1024
  val PriceLoCents = 90000L
  val PriceSpanCents = 50000000L
  val PriceWindowCents = 1000000L

  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))
}
