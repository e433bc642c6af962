package graft.operators

import org.apache.spark.sql.types.{DataType, StructType}

/** One record of the versioned table's log ([[TimeTravel]]) — every
  * action a `<N>.delta` commit record, a full-text `<N>.manifest`
  * checkpoint or a checkpoint HEADER (a manifest whose file body lives
  * in a parquet sidecar) can carry, as fields: the add / remove /
  * metaData / protocol / txn / commitInfo action model of Delta Lake
  * (Armbrust et al., VLDB 2020) written as `#key=value` text lines.
  * A case class rather than an action stream because every reader
  * wants fields. [[encode]] and [[LogRecord.parse]] are the format's
  * only codec.
  *
  * The grammar, in the order [[encode]] writes it (`enc` = URL
  * encoding, so no token holds a separator, a space or a newline).
  * Level = the protocol version a reader needs to honor the line;
  * shapes: D = delta, M = full-text manifest, H = checkpoint header
  * (its file-level lines live in the sidecar instead); "carried" lines
  * repeat the table's current value in every record, so ONE record
  * answers for its version without a log walk.
  *
  * {{{
  * line                                level shapes  carried / set
  * #protocol=<minReader>/<minWriter>   1     D M H   carried, ratcheted: max(own content's need, predecessor)
  * #txn=<enc streamId>:<batchId>       1     D M H   per commit; a vacuum floor keeps every stream's high-water mark
  * #schema=<StructType json>           1     D M H   carried (evolve / colmap commits change it)
  * #partcols=<enc col>,<enc col>...    1     M       per record: only an empty init states its layout (bare = unpartitioned)
  * #constraint=<enc name>|<enc expr>   1     D M H   carried: the active CHECK set
  * #colmap=<enc logical>|<enc phys>    2     D M H   carried: non-identity column mapping
  * #coldrop=<enc phys>                 2     D M H   carried: tombstones of dropped physical names
  * #bloomidx=<enc col> <items> <fpp>   1     D M H   carried: the active bloom-index policy
  * #op=<kind>                          1     D M H   per commit (a vacuum floor keeps the original kind)
  * #cdc=<token>                        1     D       per commit: `_change/<token>/` holds its change rows
  * #ts=<epoch millis>                  1     D M H   per commit (a vacuum floor keeps the original time)
  * #nfiles=<n>                         1     H       per checkpoint: the sidecar's file count
  * #filesbody=parquet:<token>          1     H       per checkpoint: the sidecar `<N>.<token>.checkpoint.parquet`
  * #stats=<enc path>|<payload>         1     D M     per file: a delta's adds, a checkpoint's every file
  * #dv=<enc path> <enc token>          3     D M     per file: deletion-vector artifact `_dv/<token>/`
  * #bloom=<enc path> <enc token>       1     D M     per file: bloom-filter artifact `_bloom/<token>/`
  * <path>                              1     M       the checkpoint's resolved file set
  * +<path>                             1     D       files the commit added
  * -<path>                             1     D       files the commit removed
  * }}}
  *
  * Keyed lines and the three file-line lists are each written sorted,
  * so equal content encodes to equal bytes. The first character
  * classifies a line. A data path never starts with `#` (Spark escapes
  * it in partition directory names), but a partitioned one starts with
  * its partition column's name, which may start with `+` or `-`: a
  * checkpoint's file line `-x=1/…` parses as a remove, and
  * [[asCheckpoint]] folds such lines back into its files. The stats
  * `<payload>` (`col=min:max;…;!rows=n;!bytes=n`) is opaque here:
  * [[TimeTravel]] owns its codec. Parsing keeps the first value of a
  * single-valued key and the last of a repeated map key, skips an
  * empty line and an unknown `#key=` line (old readers skip what they
  * cannot know; what must fail closed is gated by `#protocol=`), and
  * fails closed on an unparsable `#protocol=` line. */
final case class LogRecord(
    protocol: Option[(Int, Int)] = None,
    txns: Seq[(String, Long)] = Nil,
    schema: Option[StructType] = None,
    partCols: Option[Seq[String]] = None,
    constraints: Map[String, String] = Map.empty,
    colmap: Map[String, String] = Map.empty,
    coldrop: Set[String] = Set.empty,
    bloomIdx: Map[String, (Long, Double)] = Map.empty,
    op: Option[String] = None,
    cdc: Option[String] = None,
    ts: Option[Long] = None,
    nfiles: Option[Int] = None,
    sidecar: Option[String] = None,
    stats: Map[String, String] = Map.empty,
    dvs: Map[String, String] = Map.empty,
    blooms: Map[String, String] = Map.empty,
    files: Seq[String] = Nil,
    adds: Seq[String] = Nil,
    removes: Seq[String] = Nil) {

  import LogRecord.enc

  /** The declared requirement; the base format (1, 1) on records
    * written before protocol lines existed. */
  def requirement: (Int, Int) = protocol.getOrElse((1, 1))

  /** The requirement this record's OWN content needs, before any
    * ratchet: deletion vectors need 3 (a reader without them would
    * resurrect deleted rows), column mapping 2 (it would NULL-fill
    * renamed columns), the rest 1 (bloom and stats lines only save
    * I/O, so ignoring them is never wrong). */
  def needs: (Int, Int) = {
    val v = if (dvs.nonEmpty) 3
      else if (colmap.nonEmpty || coldrop.nonEmpty) 2
      else 1
    (v, v)
  }

  private def lines: Seq[String] = {
    def sorted[V](m: Map[String, V]) = m.toSeq.sortBy(_._1)
    val b = Vector.newBuilder[String]
    protocol.foreach { case (r, w) => b += s"#protocol=$r/$w" }
    txns.foreach { case (s, id) => b += s"#txn=${enc(s)}:$id" }
    schema.foreach(s => b += s"#schema=${s.json}")
    partCols.foreach(cs => b += s"#partcols=${cs.map(enc).mkString(",")}")
    sorted(constraints).foreach { case (n, e) =>
      b += s"#constraint=${enc(n)}|${enc(e)}" }
    sorted(colmap).foreach { case (l, p) => b += s"#colmap=${enc(l)}|${enc(p)}" }
    coldrop.toSeq.sorted.foreach(p => b += s"#coldrop=${enc(p)}")
    sorted(bloomIdx).foreach { case (c, (n, fpp)) =>
      b += s"#bloomidx=${enc(c)} $n $fpp" }
    op.foreach(o => b += s"#op=$o")
    cdc.foreach(t => b += s"#cdc=$t")
    ts.foreach(t => b += s"#ts=$t")
    nfiles.foreach(n => b += s"#nfiles=$n")
    sidecar.foreach(t => b += s"#filesbody=parquet:$t")
    sorted(stats).foreach { case (f, p) => b += s"#stats=${enc(f)}|$p" }
    sorted(dvs).foreach { case (f, t) => b += s"#dv=${enc(f)} ${enc(t)}" }
    sorted(blooms).foreach { case (f, t) => b += s"#bloom=${enc(f)} ${enc(t)}" }
    b ++= files.sorted
    b ++= adds.sorted.map("+" + _)
    b ++= removes.sorted.map("-" + _)
    b.result()
  }

  def encode: Array[Byte] = lines.mkString("\n").getBytes("UTF-8")

  /** This record read as a checkpoint (a manifest). A checkpoint holds
    * no add or remove lines, so a line [[LogRecord.parse]] took for one
    * is a file whose path starts with `+` or `-`: it counts as a file. */
  def asCheckpoint: LogRecord =
    if (adds.isEmpty && removes.isEmpty) this
    else copy(files = files ++ adds.map("+" + _) ++ removes.map("-" + _),
      adds = Nil, removes = Nil)
}

object LogRecord {

  private[operators] def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private[operators] def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def pair(body: String, sep: Char): (String, String) = {
    val i = body.indexOf(sep)
    dec(body.take(i)) -> dec(body.drop(i + 1))
  }

  /** The record a text holds — one pass over its lines, any shape. */
  def parse(lines: IterableOnce[String]): LogRecord = {
    var protocol: Option[(Int, Int)] = None
    var schema: Option[StructType] = None
    var partCols: Option[Seq[String]] = None
    var op, cdc, sidecar: Option[String] = None
    var ts: Option[Long] = None
    var nfiles: Option[Int] = None
    val txns = Vector.newBuilder[(String, Long)]
    val constraints, colmap, stats, dvs, blooms =
      Map.newBuilder[String, String]
    val coldrop = Set.newBuilder[String]
    val bloomIdx = Map.newBuilder[String, (Long, Double)]
    val files, adds, removes = Vector.newBuilder[String]
    lines.iterator.foreach { l =>
      if (l.nonEmpty) l.charAt(0) match {
        case '+' => adds += l.substring(1)
        case '-' => removes += l.substring(1)
        case '#' =>
          val eq = l.indexOf('=')
          val v = l.substring(eq + 1)
          (if (eq < 0) "" else l.substring(1, eq)) match {
            case "protocol" => if (protocol.isEmpty) protocol = Some {
              val i = v.indexOf('/')
              try (v.take(i).trim.toInt, v.drop(i + 1).trim.toInt)
              catch { case _: Exception => throw new IllegalStateException(
                s"unparsable protocol requirement '$l' — refusing to read " +
                  "a record whose gate cannot be understood") }
            }
            case "txn" =>
              val i = v.lastIndexOf(':')
              txns += dec(v.substring(0, i)) -> v.substring(i + 1).toLong
            case "schema" => if (schema.isEmpty)
              schema = Some(DataType.fromJson(v).asInstanceOf[StructType])
            case "partcols" => if (partCols.isEmpty) partCols = Some(
              v.split(',').iterator.map(_.trim).filter(_.nonEmpty)
                .map(dec).toSeq)
            case "constraint" => constraints += pair(v, '|')
            case "colmap" => colmap += pair(v, '|')
            case "coldrop" => coldrop += dec(v)
            case "bloomidx" =>
              val parts = v.split(' ')
              bloomIdx += dec(parts(0)) -> ((parts(1).toLong, parts(2).toDouble))
            case "op" => if (op.isEmpty) op = Some(v)
            case "cdc" => if (cdc.isEmpty) cdc = Some(v)
            case "ts" => if (ts.isEmpty) ts = Some(v.toLong)
            case "nfiles" => if (nfiles.isEmpty) nfiles = Some(v.toInt)
            case "filesbody" => if (sidecar.isEmpty && v.startsWith("parquet:"))
              sidecar = Some(v.stripPrefix("parquet:"))
            case "stats" =>
              val i = v.indexOf('|')
              stats += dec(v.take(i)) -> v.drop(i + 1)
            case "dv" => dvs += pair(v, ' ')
            case "bloom" => blooms += pair(v, ' ')
            case _ => () // a future action: skipped, see the class doc
          }
        case _ => files += l
      }
    }
    LogRecord(protocol, txns.result(), schema, partCols,
      constraints.result(), colmap.result(), coldrop.result(),
      bloomIdx.result(), op, cdc, ts, nfiles, sidecar, stats.result(),
      dvs.result(), blooms.result(), files.result(), adds.result(),
      removes.result())
  }

  /** The record's leading metadata only: reading stops at the first
    * `#stats=` or file line, so even a table-scale text checkpoint
    * costs a few hundred bytes (writers put every metadata line before
    * stats and files). */
  def header(lines: Iterator[String]): LogRecord =
    parse(lines.takeWhile(l => l.startsWith("#") && !l.startsWith("#stats=")))
}
