package graft.pipeline

import graft.ops.{DedupOps, Fs, MovieOps}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's checkpointed monthly backfill (movie.py:247-299),
  * re-expressed for Spark's execution model:
  *
  *  - the month work-list minus completed months is the reference's
  *    done-set skip (movie.py:257-263) — at scale the same thing is the
  *    anti-join `pending LEFT ANTI JOIN checkpoint` (query q06 shape);
  *  - each month writes a parquet part under `part_month=<start>/` —
  *    directory partitioning replaces hand-rolled filenames, and an
  *    idempotent overwrite makes re-runs of a crashed month safe
  *    (write-then-mark ⇒ at-least-once, dedup ⇒ effectively-once);
  *  - consolidation is a glob read + window dedup + master write —
  *    never a driver-side collect/concat (the reference's `pd.concat`
  *    at movie.py:294 is the scaling cliff this replaces).
  */
object Backfill {

  final case class Result(processedMonths: Seq[String], masterRows: Long)

  /** Run the backfill over [start, end].
    *
    * @param fetchMonth raw-payload source for one (monthStart, monthEnd)
    *                   range — a JSON-fixture read in tests; a DataSource
    *                   wrapping the paged REST API in production
    * @param onProgress per-month progress callback (C5): (monthKey,
    *                   completed, total) after each month commits
    * @param keepFirst  reproduce the reference's `drop_duplicates
    *                   (keep='first')` in fetch/page order (movie.py:276)
    *                   — requires `fetchMonth` frames to carry the
    *                   source's `_page`/`_row` ordinals (the paged
    *                   source's `withOrdinals` option). Default keeps
    *                   the payload-ordered survivor, which is
    *                   deterministic without ingest-order columns.
    * @param clusterMasterBy when set, the master PARQUET sink writes
    *                   clustered by this column via
    *                   [[graft.ops.SinkOps.rangedSortedParquet]] (disjoint
    *                   per-file key ranges, files capped at
    *                   `masterMaxRecordsPerFile` rows) — the layout that
    *                   lets downstream key-range scans prune files; the
    *                   CSV master is unaffected
    */
  def run(
      spark: SparkSession,
      outDir: String,
      checkpointFile: String,
      start: String,
      end: String,
      imageBase: String,
      posterSize: String,
      genres: Map[Int, String],
      fetchMonth: (String, String) => DataFrame,
      onProgress: (String, Int, Int) => Unit = (_, _, _) => (),
      keepFirst: Boolean = false,
      clusterMasterBy: Option[String] = None,
      masterMaxRecordsPerFile: Long = 5000000L): Result = {

    // all driver-side I/O rides the Hadoop FileSystem API with the
    // session's conf, so outDir/checkpointFile may be any scheme Spark
    // itself can write (file:, hdfs:, s3a:, ...)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val ranges = MovieOps.monthRanges(start, end)
    var done = MovieOps.loadCheckpoint(checkpointFile, hadoopConf)
    // membership checks against the checkpoint are per-month; a Seq scan
    // would be O(months²) — keep a Set view alongside the ordered list
    var doneSet = done.toSet
    val processed = Seq.newBuilder[String]

    // dedup survivor must be DETERMINISTIC even when duplicate payloads
    // differ (DedupOps contract) — ordering by the key alone is constant
    // within its window, so order by the full payload instead
    val payloadOrder = MovieOps.MovieSchema.fieldNames
      .filterNot(_ == "tmdb_id").toSeq.map(col)

    for ((ms, me) <- ranges) {
      val key = s"${ms}_$me"
      if (!doneSet.contains(key)) {
        val raw = fetchMonth(ms, me)
        val part =
          if (raw.isEmpty) MovieOps.emptyMovies(spark)
          else if (keepFirst) {
            require(raw.columns.contains("_page") && raw.columns.contains("_row"),
              "keepFirst needs _page/_row ingest ordinals — read the source with withOrdinals=true")
            DedupOps.exactDedup(
                MovieOps.normalize(raw, imageBase, posterSize, genres,
                  extra = Seq("_page", "_row")),
                Seq("tmdb_id"), Seq(col("_page"), col("_row")))
              .drop("_page", "_row")
          } else DedupOps.exactDedup(
            MovieOps.normalize(raw, imageBase, posterSize, genres),
            Seq("tmdb_id"), payloadOrder)
        // idempotent per-month overwrite (movie.py:277-278)
        part.write.mode(SaveMode.Overwrite).parquet(s"$outDir/part_month=$ms")
        // mark AFTER the data write (movie.py:281-282): crash in between
        // re-extracts the month; global dedup restores exactly-once
        done = done :+ key
        doneSet = doneSet + key
        MovieOps.saveCheckpoint(checkpointFile, done, hadoopConf)
        processed += key
      }
      onProgress(key, done.size, ranges.size)
    }

    // consolidate (movie.py:288-299): glob scan -> global dedup -> masters
    val hasParts = Fs.list(outDir, hadoopConf)
      .exists(_.getPath.getName.startsWith("part_month="))
    val masterRows = if (hasParts) {
      val all = spark.read
        .schema(MovieOps.MovieSchema.add("part_month", "string"))
        .option("basePath", outDir)
        .parquet(s"$outDir/part_month=*")
      // earliest month wins; per-month dedup already guarantees one row
      // per tmdb_id within a month, and the payload tail keeps the
      // survivor deterministic even if that invariant is ever violated
      val master = DedupOps.exactDedup(
          all, Seq("tmdb_id"), col("part_month") +: payloadOrder)
        .drop("part_month")
      val (csvName, parquetName) = MovieOps.masterPaths(start, end)
      master.write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(s"$outDir/$csvName")
      // optional clustered master (ops/SinkOps): disjoint per-file key
      // ranges + bounded file sizes, so downstream key-range scans prune
      // files by min/max statistics instead of reading the whole master
      clusterMasterBy match {
        case Some(sortCol) => graft.ops.SinkOps.rangedSortedParquet(
          master, sortCol, s"$outDir/$parquetName",
          maxRecordsPerFile = masterMaxRecordsPerFile)
        case None =>
          master.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$parquetName")
      }
      master.count()
    } else 0L

    Result(processed.result(), masterRows)
  }
}
