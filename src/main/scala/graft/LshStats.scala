package graft

import org.apache.spark.sql.functions._

/** Dev tool (the `Explain` family): per-stage cardinalities of the
  * LSH-banded queries whose wall-clock scaling needs attribution —
  * `dedup_minhash_lsh`, `dedup_chunk_minhash` and `ann_lsh_multiprobe`.
  * Prints one JSON line per query with the band-row / hot-bucket /
  * cold-row / candidate-pair / emitted-pair counts at the given SF dir,
  * so a super-linear TIME curve can be split into "candidate growth"
  * (these counts grow super-linearly too) vs "per-row cost or host
  * noise" (they don't).
  *
  * Every stage COMPOSES the operators' own factored machinery —
  * `DedupQueries.{shingleTable,chunkReps,repShingles,minhashBands,
  * minhashCandidateJoin,estJaccard}`, the one hot-bucket cap
  * `DedupQueries.{MaxBucket,bucketCounts,hotBuckets,dropHot}`, the
  * SemDeDup stages `DedupQueries.{withinCellPairs,semanticElection}`,
  * and `SimilarityQueries.{kmeansAssign,signTables,lshCandidateJoin}` —
  * so the probe cannot desynchronize from the
  * operator it measures: a cap-policy or gate change lands here by
  * construction. The only local additions are the localCheckpoints
  * between stages (count each stage off one materialization).
  *
  * Usage: runMain graft.LshStats <sfDir>
  */
object LshStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", EngineSession.defaultCores)
    val spark = EngineSession.local(cpus, "graft-lsh-stats")
    import graft.queries.{DedupQueries => DQ, SimilarityQueries => SQ}
    val bandKeys = Seq("band", "bval")

    // ---- dedup_minhash_lsh stages (the query's own machinery) ----
    {
      val bands0 = DQ.minhashBands(DQ.shingleTable(spark, sfDir), Nil, DQ.K)
        .transform(graft.operators.Checkpoints.fresh) // count the stages off ONE materialization
      val hotFull = DQ.bucketCounts(bands0, bandKeys).transform(graft.operators.Checkpoints.fresh)
      val hot = DQ.hotBuckets(hotFull, bandKeys)
      val cold = DQ.dropHot(bands0, hot, bandKeys).transform(graft.operators.Checkpoints.fresh)
      val cand = DQ.minhashCandidateJoin(cold,
        col("a.doc_id") < col("b.doc_id"))
      val pairs = cand
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          DQ.estJaccard(DQ.K).as("est_jaccard"))
        .filter(col("est_jaccard") >= DQ.MinEstJaccard)
        .dropDuplicates("d1", "d2")
      val maxCold = hotFull.filter(col("n") <= DQ.MaxBucket)
        .agg(coalesce(max("n"), lit(0L))).head().getLong(0)
      println(s"""{"query":"dedup_minhash_lsh","sf":"$sfDir"""" +
        s""","band_rows":${bands0.count()},"buckets":${hotFull.count()}""" +
        s""","hot_buckets":${hot.count()},"cold_rows":${cold.count()}""" +
        s""","max_cold_bucket":$maxCold""" +
        s""","candidate_pairs":${cand.count()},"emitted_pairs":${pairs.count()}}""")
      Seq(bands0, hotFull, cold).foreach(graft.operators.Checkpoints.free)
    }

    // ---- dedup_chunk_minhash stages (the query's own machinery) ----
    // chunk_rows vs rep_rows instruments the exact-duplicate pre-filter:
    // the signature pipeline downstream sees rep_rows, not chunk_rows.
    {
      val chunkRows =
        graft.queries.CurationQueries.chunkTable(spark, sfDir).count()
      val reps = DQ.chunkReps(spark, sfDir).transform(graft.operators.Checkpoints.fresh)
      val sh = DQ.repShingles(reps)
      val bands0 = DQ.minhashBands(sh, Seq("chunk_id"), DQ.K).transform(graft.operators.Checkpoints.fresh)
      val hotFull = DQ.bucketCounts(bands0, bandKeys).transform(graft.operators.Checkpoints.fresh)
      val hot = DQ.hotBuckets(hotFull, bandKeys)
      val cold = DQ.dropHot(bands0, hot, bandKeys).transform(graft.operators.Checkpoints.fresh)
      val cand = DQ.minhashCandidateJoin(cold,
        col("a.doc_id") < col("b.doc_id") ||
          (col("a.doc_id") === col("b.doc_id") &&
            col("a.chunk_id") < col("b.chunk_id")))
      val pairs = cand
        .select(col("a.doc_id").as("d1"), col("a.chunk_id").as("c1"),
          col("b.doc_id").as("d2"), col("b.chunk_id").as("c2"),
          DQ.estJaccard(DQ.K).as("est_jaccard"))
        .filter(col("est_jaccard") >= DQ.MinEstJaccard)
        .dropDuplicates("d1", "c1", "d2", "c2")
      val maxCold = hotFull.filter(col("n") <= DQ.MaxBucket)
        .agg(coalesce(max("n"), lit(0L))).head().getLong(0)
      println(s"""{"query":"dedup_chunk_minhash","sf":"$sfDir"""" +
        s""","chunk_rows":$chunkRows,"rep_rows":${reps.count()}""" +
        s""","band_rows":${bands0.count()},"buckets":${hotFull.count()}""" +
        s""","hot_buckets":${hot.count()},"cold_rows":${cold.count()}""" +
        s""","max_cold_bucket":$maxCold""" +
        s""","candidate_pairs":${cand.count()},"emitted_pairs":${pairs.count()}}""")
      Seq(reps, bands0, hotFull, cold).foreach(graft.operators.Checkpoints.free)
    }

    // ---- CDC chunking stats (dedup_chunk_cdc's relation) ----
    // The CDC scale argument made measurable: mean chunk ≈ CdcW·16/...
    // tokens (P = 1/16 boundary rule) implies ≈ ChunkSize/mean × the
    // fixed DISJOINT chunk rows, and the exact chunk-dedup group space
    // is the DISTINCT chunk-content count. Same composition discipline:
    // the relation is the operator's own cdcChunkRowsOf.
    {
      val fixedRows = graft.queries.CurationQueries.chunksOf(
        Tables(spark, sfDir, "documents")).count()
      val cdc = graft.queries.CurationQueries.cdcChunkRowsOf(
        Tables(spark, sfDir, "documents")).transform(graft.operators.Checkpoints.fresh)
      val rows = cdc.count()
      val agg = cdc.agg(
        coalesce(sum(col("n_tokens").cast("long")), lit(0L)).as("sum_t"),
        coalesce(max(col("n_tokens")), lit(0)).as("max_t")).head()
      val distinct = cdc.select(md5(col("chunk")).as("ch")).distinct().count()
      println(s"""{"query":"dedup_chunk_cdc","sf":"$sfDir"""" +
        s""","fixed_disjoint_chunk_rows":$fixedRows,"cdc_chunk_rows":$rows""" +
        s""","distinct_chunks":$distinct,"sum_tokens":${agg.getLong(0)}""" +
        s""","max_chunk_tokens":${agg.get(1)}}""")
      graft.operators.Checkpoints.free(cdc)
    }

    // ---- embedding_kmeans cell geometry (dedup_semantic_kmeans's cells) ----
    // Composed from the operator's own kmeansAssign (no-desync rule):
    // how the corpus spreads over the K learned cells, and how many
    // cells the MaxBucket cap would drop — the measured form of the
    // "K is the scale knob" claim (SCALE.md).
    {
      val asg = SQ.kmeansAssign(spark, sfDir).transform(graft.operators.Checkpoints.fresh)
      val sizes = asg.groupBy("cluster").agg(count(lit(1)).as("n"))
        .transform(graft.operators.Checkpoints.fresh)
      val mx = sizes.agg(coalesce(max("n"), lit(0L))).head().getLong(0)
      val mn = sizes.agg(coalesce(min("n"), lit(0L))).head().getLong(0)
      val hot = DQ.hotBuckets(sizes, Seq("cluster")).count()
      // emitted_pairs runs the operator's own stages over these cells:
      // the r9 fixed-K geometry emitted ZERO pairs at sf0.1 (all cells
      // hot) — the derived-K claim is only proven by a non-zero count here
      val emitted = DQ.semanticElection(spark, sfDir,
        DQ.withinCellPairs(asg.select("vec_id", "v", "cluster"), Seq("cluster"))).count()
      println(s"""{"query":"dedup_semantic_kmeans","sf":"$sfDir"""" +
        s""","vectors":${asg.count()},"clusters":${sizes.count()}""" +
        s""","max_cluster":$mx,"min_cluster":$mn,"hot_clusters":$hot""" +
        s""","emitted_pairs":$emitted}""")
      Seq(asg, sizes).foreach(graft.operators.Checkpoints.free)
    }

    // ---- ann_lsh_multiprobe stages (the query's own machinery) ----
    {
      val probeKeys = Seq("tbl", "bucket")
      val e = Tables(spark, sfDir, "embeddings")
        .filter(col("vec_id").isNotNull)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
      val tabs = SQ.signTables(e).transform(graft.operators.Checkpoints.fresh)
      val hotFull = DQ.bucketCounts(tabs, probeKeys).transform(graft.operators.Checkpoints.fresh)
      val hot = DQ.hotBuckets(hotFull, probeKeys)
      val cold = DQ.dropHot(tabs, hot, probeKeys).transform(graft.operators.Checkpoints.fresh)
      val cand = SQ.lshCandidateJoin(cold, probeKeys)
      val maxCold = hotFull.filter(col("n") <= DQ.MaxBucket)
        .agg(coalesce(max("n"), lit(0L))).head().getLong(0)
      println(s"""{"query":"ann_lsh_multiprobe","sf":"$sfDir"""" +
        s""","band_rows":${tabs.count()},"buckets":${hotFull.count()}""" +
        s""","hot_buckets":${hot.count()},"cold_rows":${cold.count()}""" +
        s""","max_cold_bucket":$maxCold""" +
        s""","candidate_pairs":${cand.count()}}""")
      Seq(tabs, hotFull, cold).foreach(graft.operators.Checkpoints.free)
    }
    spark.stop()
  }
}
