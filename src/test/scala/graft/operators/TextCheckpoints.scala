package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Builds TEXT-era logs for specs: rewrites every header-plus-sidecar
  * checkpoint of a table into the full-text manifest the pre-parquet
  * checkpoint writer produced — the same record with its file-level
  * lines (files, stats, DV and bloom bindings) inline, encoded by
  * [[LogRecord.encode]] — and removes the sidecar. Old logs on disk
  * look like this; the readers must keep resolving them. */
object TextCheckpoints {

  /** Returns the rewritten checkpoint versions. */
  def rewrite(spark: SparkSession, baseDir: String): Seq[Int] = {
    val fs = TimeTravel.hadoopFs(spark, baseDir)
    val log = new Path(baseDir, "_graft_log")
    fs.listStatus(log).map(_.getPath)
      .filter(_.getName.endsWith(".manifest")).toSeq
      .flatMap { m =>
        val v = m.getName.stripSuffix(".manifest").toInt
        val in = fs.open(m)
        val rec = try LogRecord.parse(scala.io.Source
          .fromInputStream(in, "UTF-8").getLines())
          finally in.close()
        rec.sidecar.map { token =>
          val (files, stats, dvs, blooms) =
            TimeTravel.readCheckpointSidecar(spark, fs, baseDir, v, token)
          val text = rec.copy(nfiles = None, sidecar = None,
            files = files.toSeq, stats = stats, dvs = dvs, blooms = blooms)
          val out = fs.create(m, true)
          try out.write(text.encode) finally out.close()
          require(fs.delete(
            new Path(log, s"$v.$token.checkpoint.parquet"), false))
          v
        }
      }.sorted
  }
}
