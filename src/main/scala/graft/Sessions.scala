package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every main, test tool and
  * the shared test session call `Sessions.local`, so each setting that
  * correctness or scale depends on is written (and explained) once;
  * SessionsSpec fails if any other file under `src/` builds a session.
  */
object Sessions {
  /** Core count of every main's session, default 4; the one read of the
    * variable in the program. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int = Sessions.cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts shipped as TIMESTAMP(NANOS) in one testdata encoding:
      // read it as a long and let Tables.events normalize it
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // ObjectHashAggregate falls back to SORT-BASED aggregation after
      // 128 distinct keys per task (the default) — at volume that turns
      // every bounded-buffer typed aggregate (TopK, VecSum, sketches,
      // capped collect_list) into a full sort of its input stream
      // (measured at the sf10 stress: knn-graph pair agg 345 s -> 114 s,
      // knn-delta 34 s -> 11 s just from this). Graft's typed buffers
      // are all size-capped (TopK k<=50, VecSum dim doubles, bucket
      // caps on collect_list), so half a million live groups per task
      // is ~100 MB worst case -- keep the hash path.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "524288")
      // Long sweeps accumulate shuffle files across hundreds of jobs and
      // the ContextCleaner only frees them on driver GC — with a large
      // pre-touched heap GC may never fire and iterative CC/absorption
      // loops filled 76 GB of /tmp at the r9 sf10 sweep (q_dup_clusters,
      // "No space left on device"). A 60 s periodic GC keeps shuffle
      // cleanup flowing; negligible cost at these heap sizes.
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
