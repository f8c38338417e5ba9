package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact table statistics from parquet FOOTERS — metadata reads only,
  * zero data pages (ref: utils/query_optimizer/optimizer.py:19, which
  * serves fast row counts from pg_stat / sys.partitions instead of
  * COUNT(*); parquet's per-file footer record counts are the lake
  * analog, and they are exact rather than approximate).
  *
  * Listing is driver metadata work (what Spark's FileIndex does on
  * every read anyway); the footer reads distribute over the executors,
  * so a 100 TB table's count costs one task per file reading a few KB
  * each. Used by `recon_rowcount_fast` and by operators that need a
  * corpus size as a plan PARAMETER (e.g. the semantic-cell k = ⌈√n⌉
  * rule) without paying a full-corpus count job for it.
  */
object ParquetMeta {

  /** The parquet data files a read of `p` sees (`p` itself when it is a
    * file; throws when it does not exist). Listing RECURSES so
    * partitioned and nested layouts (data files under `col=value/`
    * subdirectories) are covered. Paths with any segment (relative to
    * the root) starting with '_' or '.' are skipped, mirroring Spark's
    * hidden-file filter: in-flight/aborted writes under
    * `_temporary`/`.staging` must not count versus what a read of the
    * table actually sees.
    */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val root = fs.getFileStatus(p)
    if (!root.isDirectory) return Seq(p)
    val rootUri = root.getPath.toUri.getPath
    def hidden(f: org.apache.hadoop.fs.Path): Boolean =
      f.toUri.getPath.stripPrefix(rootUri).split('/')
        .exists(seg => seg.startsWith("_") || seg.startsWith("."))
    val it = fs.listFiles(p, true)
    val buf = Seq.newBuilder[org.apache.hadoop.fs.Path]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet") && !hidden(f.getPath))
        buf += f.getPath
    }
    buf.result()
  }

  /** Per-file exact row counts (column `n`, one row per data file,
    * listed by [[dataFiles]]). A table with no data files yields an
    * empty frame (not a repartition(0) crash) so [[rowCount]]'s
    * zero-row fallback is reachable.
    */
  def fileRowCounts(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val files: Seq[String] =
      dataFiles(p.getFileSystem(s.sparkContext.hadoopConfiguration), p).map(_.toString)
    // ship the session's Hadoop conf (spark.hadoop.* — object-store
    // credentials, FS settings) to the executors; a bare Configuration
    // would only resolve against the local FS
    val confBc = s.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        s.sparkContext.hadoopConfiguration))
    s.createDataset(files)
      .repartition(math.max(1, math.min(files.size, 32)))
      .mapPartitions { it =>
        val conf = confBc.value.value
        it.map { pstr =>
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(pstr), conf))
          try rd.getRecordCount finally rd.close()
        }
      }
      .toDF("n")
  }

  /** Exact row count of a parquet table from its footers. */
  def rowCount(s: SparkSession, path: String): Long =
    fileRowCounts(s, path).agg(coalesce(sum(col("n")), lit(0L)).as("c"))
      .head().getLong(0)

  /** DRIVER-SIDE exact row count from parquet footers — for K-ROW
    * metadata tables (an index's centroid count is its geometry
    * parameter) where even [[rowCount]]'s one-task job pays full query
    * planning. Footer reads only, no data pages, over the
    * [[dataFiles]] listing; an absent table counts 0.
    */
  def rowCountDriver(s: SparkSession, path: String): Long = {
    val conf = s.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return 0L
    dataFiles(fs, p).map { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try rd.getRecordCount finally rd.close()
    }.sum
  }

  /** DRIVER-SIDE read of one BOOLEAN from a one-row parquet table —
    * store METADATA (the quantized index's residual flag) should cost a
    * metadata read, not a Spark job: `spark.read.parquet(p).head()` on
    * a one-row table pays full query planning plus an AQE stage-job per
    * call (~100 ms and a cluster round-trip), where the parquet-hadoop
    * record reader pays one footer + one page read on the driver. Same
    * value by construction (it reads the same files — the
    * [[dataFiles]] listing, so a table whose file sits under a
    * subdirectory is found, not read as absent). Row-group skipping
    * never applies (the table is one row); files are visited in listing
    * order and the first non-null value wins — exactly head()'s
    * semantics on a coalesce(1)-written table. A table partitioned BY
    * `column` keeps the value only in its `<column>=<v>/` directory
    * name, where head() finds it too. An absent table is `None`; a data
    * file with the column neither in its schema nor in its path throws
    * (reading it as absent would silently flip the caller's default).
    */
  def headBoolean(s: SparkSession, path: String, column: String): Option[Boolean] = {
    val conf = s.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val rootUri = fs.getFileStatus(p).getPath.toUri.getPath
    def fromPath(f: org.apache.hadoop.fs.Path): Option[Boolean] =
      f.toUri.getPath.stripPrefix(rootUri).split('/').dropRight(1)
        .collectFirst { case seg if seg.startsWith(column + "=") => seg.drop(column.length + 1) }
        .map(v => if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(v.toBoolean))
        .getOrElse(throw new IllegalStateException(
          s"$f carries no column '$column' in its schema or its path"))
    dataFiles(fs, p).iterator.flatMap { f =>
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      val (rows, inFile) =
        try (footer.getRecordCount, footer.getFileMetaData.getSchema.containsField(column))
        finally footer.close()
      if (rows == 0) None
      else if (!inFile) fromPath(f)
      else {
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), f)
          .withConf(conf).build()
        try {
          Iterator.continually(reader.read()).takeWhile(_ != null)
            .collectFirst {
              case g if g.getFieldRepetitionCount(column) > 0 => g.getBoolean(column, 0)
            }
        } finally reader.close()
      }
    }.nextOption()
  }
}
