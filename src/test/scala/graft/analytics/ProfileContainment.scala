package graft.analytics

import org.apache.spark.sql.functions._

import graft.scale.Dedup

/** Throwaway phase profiler for q_containment_lsh (optimization round
  * evidence; mirrors ScaleQueries.containmentLsh stage by stage with
  * noop-sink timers so the per-phase cost is visible — guide §1.4/§1.5).
  *
  * Run: sbt "Test/runMain graft.analytics.ProfileContainment /root/testdata/sf0.1 3"
  */
object ProfileContainment {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = graft.Sessions.local()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("length(text) l").agg(sum(col("l"))).collect()

    def t[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[prof] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    for (rep <- 1 to reps) {
      println(s"=== rep $rep ===")
      val docs = t("docsWithPrefixes+persist") {
        val d = ScaleQueries.docsWithPrefixes(spark, dir).persist()
        d.count(); d
      }
      val hashed = docs.select(col("doc_id"), md5(col("text")).as("h"))
      val mapping = t("quotient mapping ckpt") {
        hashed
          .join(hashed.groupBy(col("h")).agg(min(col("doc_id")).as("rep")), Seq("h"))
          .select(col("doc_id"), col("rep"))
          .localCheckpoint()
      }
      val repDocs = docs.join(
        mapping.filter(col("doc_id") === col("rep")).select(col("doc_id")), Seq("doc_id"))
      val sigs = t("minhash signatures") {
        Dedup.minhashSignatures(repDocs, "text", "doc_id", 3)
      }
      val mh = t("lshCandidates (ckpt+plan)") { Dedup.lshCandidates(sigs) }
      val nmh = t("mh candidates count") { mh.count() }
      val fps = t("winnow fingerprints ckpt") {
        graft.scale.Winnow.fingerprints(repDocs, "text", "doc_id",
          k = 3, win = 3).localCheckpoint()
      }
      val fpDf = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      val rare = fps
        .join(fpDf.filter(col("df") > 1 && col("df") <= ScaleQueries.ContainRareDf), Seq("fp"))
        .groupBy(col("fp"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .select(explode(flatten(transform(col("ds"), (x, i) =>
          transform(slice(col("ds"), i + 2, size(col("ds"))),
            y => struct(x.as("d1"), y.as("d2")))))).as("p"))
        .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      val rarest = fps.join(fpDf, Seq("fp"))
        .groupBy(col("doc_id"))
        .agg(min(struct(col("df"), col("fp"))).as("r"))
        .select(col("doc_id").as("pd"), col("r.fp").as("fp"), col("r.df").as("rdf"))
        .filter(col("rdf") > ScaleQueries.ContainRareDf &&
          col("rdf") <= graft.scale.Dedup.MaxGroup)
      val probed = rarest
        .join(fps.select(col("fp"), col("doc_id").as("od")), Seq("fp"))
        .filter(col("pd") =!= col("od"))
        .select(least(col("pd"), col("od")).as("d1"),
          greatest(col("pd"), col("od")).as("d2"))
      val cands = t("cands union+distinct count") {
        val c = mh.unionByName(rare).unionByName(probed).distinct()
        println(s"[prof]   n_cands=${c.count()}")
        c
      }
      val vRep = t("verify on candidates") {
        val v = Dedup.containmentOnCandidates(repDocs, "text", "doc_id", 3, 0.9, cands)
        v.write.format("noop").mode("overwrite").save(); v
      }
      t("cross+within+out ckpt") {
        val cross = vRep
          .join(mapping.select(col("rep").as("d1"), col("doc_id").as("m1")), Seq("d1"))
          .join(mapping.select(col("rep").as("d2"), col("doc_id").as("m2")), Seq("d2"))
          .select(least(col("m1"), col("m2")).as("d1"),
            greatest(col("m1"), col("m2")).as("d2"),
            col("containment"), col("jaccard"))
        val okReps = repDocs
          .where(size(Dedup.shingleHashes(col("text"), 3)) > 0)
          .select(col("doc_id").as("rep"))
        val within = mapping.select(col("rep"), col("doc_id").as("m1"))
          .join(mapping.select(col("rep"), col("doc_id").as("m2")), Seq("rep"))
          .filter(col("m1") < col("m2"))
          .join(okReps, Seq("rep"))
          .select(col("m1").as("d1"), col("m2").as("d2"),
            lit(1.0).as("containment"), lit(1.0).as("jaccard"))
        val out = cross.unionByName(within)
          .select(col("d1"), col("d2"),
            graft.Num.r(col("containment"), 6).as("containment"),
            graft.Num.r(col("jaccard"), 6).as("jaccard"))
        out.localCheckpoint()
      }
      docs.unpersist()
    }
    spark.stop()
  }
}
