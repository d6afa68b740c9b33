package graft

import graft.llm.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Continuous-ingest curation operators: internal invariants beyond the
  * oracle hash gate. */
class CurationSpec extends SparkSpec {

  test("curation funnel is monotone and starts at the full corpus") {
    val rows = TextAnalysis.curationFunnel(spark, Sf).collect()
    assert(rows.length == 4)
    val docs = rows.map(_.getAs[Long]("docs"))
    val toks = rows.map(_.getAs[Long]("tokens"))
    assert(docs.head == Tables.documents(spark, Sf).count())
    assert(docs.zip(docs.tail).forall { case (a, b) => b <= a },
      s"docs must shrink through the funnel: ${docs.toSeq}")
    assert(toks.zip(toks.tail).forall { case (a, b) => b <= a },
      s"tokens must shrink through the funnel: ${toks.toSeq}")
  }

  test("LM perplexity covers the corpus and scores duplicates identically") {
    val out = TextAnalysis.lmPerplexity(spark, Sf).cache()
    val docs = Tables.documents(spark, Sf)
      .filter(size(split(col("text"), " ")) >= 2)
    assert(out.count() == docs.count(), "every ≥2-token doc must be scored")
    // The LM is a pure function of text, so exact duplicates must score
    // bit-identically (the property that makes ppl a safe dedup-stable key).
    val perDigest = docs.select(col("doc_id"), md5(col("text")).as("dg"))
      .join(out, "doc_id")
      .groupBy("dg").agg(countDistinct(col("ppl")).as("n"))
      .filter(col("n") > 1)
    assert(perDigest.count() == 0, "duplicate texts diverged in ppl")
    // Scores are genuine log-probabilities of a smoothed model: avg < 0,
    // ppl = exp(-avg) within the documented 6-decimal rounding.
    val bad = out.filter(col("avg_logprob") >= 0 ||
      abs(col("ppl") - exp(-col("avg_logprob"))) > 1e-4)
    assert(bad.count() == 0, "ppl/avg_logprob inconsistency")
    out.unpersist()
  }

  test("avg_logprob rounds an exact sixth-decimal tie half away from zero") {
    // -156.436161 / 42 = -3.7246705 exactly; its double is -3.72467049999...
    // Expected values are DuckDB 1.0.0's for the oracle formulation.
    import spark.implicits._
    val rows = TextAnalysis.pplOf(
        Seq((1L, 42, "-156.436161"), (2L, 42, "156.436161"), (3L, 3, "-10.000001"))
          .toDF("doc_id", "n_bigrams", "slp")
          .withColumn("slp", col("slp").cast("decimal(20,6)")))
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Double]("avg_logprob"), r.getAs[Double]("ppl")))
    assert(rows.toSeq == Seq((-3.724671, 41.457591), (3.724671, 0.024121),
      (-3.333334, 28.031644)))
  }

  test("perplexity buckets partition each language with monotone mean ppl") {
    val out = TextAnalysis.pplBuckets(spark, Sf).cache()
    val perLang = out.groupBy("lang")
      .agg(sum(col("n_docs").cast("long")).as("n"),
        count(lit(1)).as("buckets")).collect()
    val docsPerLang = Tables.documents(spark, Sf)
      .filter(size(split(col("text"), " ")) >= 2)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { r =>
      assert(r.getAs[Long]("buckets") == 3, s"${r.getString(0)}: need 3 terciles")
      assert(r.getAs[Long]("n") == docsPerLang(r.getString(0)),
        s"${r.getString(0)}: buckets must partition the language")
    }
    // Bucket labels sort head < middle < tail; mean ppl must follow.
    val rows = out.orderBy("lang", "bucket").collect()
    rows.grouped(3).foreach { g =>
      val ppls = g.map(_.getAs[Double]("avg_ppl"))
      assert(ppls(0) <= ppls(1) && ppls(1) <= ppls(2),
        s"${g.head.getString(0)}: tercile means not monotone: ${ppls.toSeq}")
    }
    out.unpersist()
  }

  test("approx-percentile tercile variant tracks the exact buckets") {
    // pplBucketsApprox is the production swap of pplBuckets (bounded
    // sketch state per language instead of buffering every score). The
    // sketch moves CUTOFFS, not the pipeline: same schema, same per-lang
    // partition property, and bucket occupancy within the documented rank
    // error (n/accuracy per cutoff, so ±max(1, ceil(n/acc)) docs per
    // bucket; the +1 absorbs ties at the boundary).
    val exact = TextAnalysis.pplBuckets(spark, Sf)
    val approx = TextAnalysis.pplBucketsApprox(spark, Sf)
    assert(approx.schema == exact.schema, "variants must agree on schema")
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("lang", "bucket", "n_docs").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    val e = key(exact)
    val a = key(approx)
    assert(a.keySet == e.keySet, "every (lang, bucket) cell must exist in both")
    val langTotals = e.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    e.foreach { case (k @ (lang, _), n) =>
      val tol = math.max(1,
        math.ceil(langTotals(lang).toDouble / TextAnalysis.PplSketchAccuracy).toInt)
      assert(math.abs(a(k) - n) <= tol,
        s"$k: approx ${a(k)} vs exact $n exceeds rank-error tolerance $tol")
    }
  }

  test("source scorecard partitions the corpus and agrees with exact dedup") {
    val out = TextAnalysis.sourceScorecard(spark, Sf).cache()
    val docs = Tables.documents(spark, Sf)
    assert(out.count() == docs.select("source").distinct().count())
    assert(out.agg(sum(col("n_docs").cast("long"))).head().getLong(0)
      == docs.count(), "scorecard rows must partition the corpus")
    // Independent cross-check: the per-source dup counts must roll up to the
    // exact-dedup query's corpus-wide non-keeper total.
    val dupTotal = Dedup.exactDedup(spark, Sf)
      .agg(sum(col("n_copies") - 1)).head().getLong(0)
    assert(out.agg(sum(col("dup_docs").cast("long"))).head().getLong(0)
      == dupTotal, "dup_docs must sum to the exact-dedup non-keeper count")
    val bad = out.filter(col("dup_rate") < 0 || col("dup_rate") >= 1 ||
      col("avg_ttr") <= 0 || col("avg_ttr") > 1 || col("avg_ppl") <= 1)
    assert(bad.count() == 0, "scorecard columns out of range")
    out.unpersist()
  }

  test("incremental dedup covers the whole batch and matches the pair list") {
    val out = Dedup.incrementalDedup(spark, Sf).cache()
    val batchN = Tables.documents(spark, Sf)
      .filter(col("doc_id") % 5 === 0).count()
    assert(out.count() == batchN, "every batch doc must be reported")
    // A batch doc is a dup iff the symmetric pair list has a cross-side
    // pair for it — the incremental path must agree with the batch path.
    val pairs = Dedup.ngramJaccardPairs(spark, Sf)
      .select(col("doc_a").as("x"), col("doc_b").as("y"))
    val sym = pairs.union(pairs.select(col("y").as("x"), col("x").as("y")))
      .filter(col("x") % 5 === 0 && col("y") % 5 =!= 0)
    val expectDups = sym.select("x").distinct().collect().map(_.getLong(0)).toSet
    val gotDups = out.filter(col("is_dup")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(gotDups == expectDups,
      s"incremental flags disagree with the pair list: " +
        s"only-incremental=${gotDups -- expectDups} only-pairs=${expectDups -- gotDups}")
    out.unpersist()
  }

  test("train split partitions the corpus with stable, plausible proportions") {
    // Collected twice (no cache) so the determinism check below is a real
    // recomputation, not a replay.
    def manifest() = TextAnalysis.trainSplit(spark, Sf).collect()
    val rows = manifest()
    val total = Tables.documents(spark, Sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == total,
      "split rollup must cover every doc exactly once")
    val bySplit = rows.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    // A 2%-bucket hash split over ~1000 docs: expect each holdout within a
    // generous binomial band, and train to dominate.
    val frac = bySplit.view.mapValues(_.toDouble / total).toMap
    assert(frac("train") > 0.9, s"train fraction ${frac("train")}")
    assert(frac("val") > 0.001 && frac("val") < 0.06, s"val fraction ${frac("val")}")
    assert(frac("test") > 0.001 && frac("test") < 0.06, s"test fraction ${frac("test")}")
    // Determinism: the same corpus yields the identical manifest.
    assert(manifest().toSeq == rows.toSeq, "split is not stable")
  }

  test("shard manifest tiles the token stream in order with bounded overflow") {
    val rows = TextAnalysis.shardManifest(spark, Sf).collect()
    val totalTokens = Tables.documents(spark, Sf)
      .select(sum(size(split(col("text"), " ")).cast("long"))).collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("shard_tokens")).sum == totalTokens,
      "shards must cover every token exactly once")
    val ids = rows.map(_.getAs[Long]("shard_id"))
    assert(ids.toSeq == ids.sorted.toSeq && ids.head == 0L &&
      ids.toSet.size == ids.length, s"shard ids must be dense-ordered: ${ids.toSeq}")
    assert(ids.zip(ids.tail).forall { case (a, b) => b == a + 1 },
      s"shard ids must be gapless: ${ids.toSeq}")
    // Start-offset assignment: every shard except the last holds at least
    // the budget minus nothing... precisely: a shard closes only once its
    // start-offset window is full, so all but the last must reach the
    // budget; overflow past the budget is at most one document's tail.
    val maxDocTokens = Tables.documents(spark, Sf)
      .select(max(size(split(col("text"), " ")).cast("long"))).collect()(0).getLong(0)
    rows.init.foreach { r =>
      val t = r.getAs[Long]("shard_tokens")
      assert(t >= TextAnalysis.ShardTokens - maxDocTokens &&
        t < TextAnalysis.ShardTokens + maxDocTokens,
        s"shard ${r.getAs[Long]("shard_id")} tokens $t outside budget band")
    }
  }

  test("source overlap is canonical and consistent with the minhash pair list") {
    val rows = Dedup.sourceOverlap(spark, Sf).collect()
    assert(rows.nonEmpty, "test corpus has near-dup pairs; overlap matrix empty")
    rows.foreach { r =>
      assert(r.getAs[String]("source_a") <= r.getAs[String]("source_b"),
        "source pair must be canonically ordered")
    }
    assert(rows.map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")))
      .distinct.length == rows.length, "duplicate source-pair rows")
    // Total pair mass equals the verified pair list (same threshold).
    val nPairs = Dedup.minhashPairs(spark, Sf).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == nPairs,
      "overlap matrix must partition the pair list")
  }

  test("length histogram partitions the corpus into true power-of-two buckets") {
    val rows = TextAnalysis.lenHist(spark, Sf).collect()
    val docs = Tables.documents(spark, Sf)
      .select(size(split(col("text"), " ")).cast("long").as("nw"))
      .filter(col("nw") >= 1).collect().map(_.getLong(0))
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.length,
      "every doc lands in exactly one (source, bucket) row")
    assert(rows.map(_.getAs[Long]("tokens")).sum == docs.sum,
      "token mass is conserved")
    rows.foreach { r =>
      val b = r.getAs[Int]("bucket"); val lo = r.getAs[Long]("bucket_lo")
      assert(lo == (1L << b), s"bucket_lo must be 2^bucket, got $lo for $b")
    }
    // The histogram agrees with a direct bucketing of the raw lengths.
    val direct = docs.groupBy(nw => 63 - java.lang.Long.numberOfLeadingZeros(nw))
      .view.mapValues(_.length).toMap
    val perBucket = rows.groupBy(_.getAs[Int]("bucket"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(perBucket.map { case (b, n) => b.toLong -> n } ==
      direct.map { case (b, n) => b.toLong -> n.toLong },
      "bit-length bucketing must equal floor(log2)")
  }

  test("PMI pairs respect the count floor and rank by score") {
    val rows = TextAnalysis.pmiPairs(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= TextAnalysis.PmiTopK)
    assert(rows.forall(_.getAs[Long]("n") >= TextAnalysis.PmiMinCount),
      "no pair below the occurrence floor")
    val pmis = rows.map(_.getAs[Double]("pmi"))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b },
      "rows must be ranked by descending PMI")
    // A pair that always co-occurs (c2 == cL == cR) has PMI = ln(T/c2) —
    // the maximum for its count — so every reported PMI is bounded by
    // ln(T / PmiMinCount), with T the query's own total bigram mass,
    // recomputed here as sum(len - 1) over >= 2-token docs (bigramsOf's
    // definition). Epsilon covers the 6-dp rounding of the shipped score.
    val t = Tables.documents(spark, Sf)
      .where(size(split(col("text"), " ")) >= 2)
      .agg(sum(size(split(col("text"), " ")) - 1)).head().getLong(0)
    assert(t > 0)
    assert(pmis.head <= math.log(t.toDouble / TextAnalysis.PmiMinCount) + 1e-6,
      f"max PMI ${pmis.head}%.6f exceeds ln(T/minCount) = ${math.log(t.toDouble / TextAnalysis.PmiMinCount)}%.6f")
  }

  test("boilerplate scrub removes exactly the planted shared blocks, in order") {
    // Three docs share a verbatim 10-word header block (df=3 ≥ MinDf=2 →
    // boilerplate); each doc's remaining blocks are unique. The scrub
    // must drop the header from all three, keep unique blocks in
    // document order, and report a doc that is ALL boilerplate as
    // clean_text = ''.
    import spark.implicits._
    import graft.llm.TextAnalysis
    val B = TextAnalysis.BoilerplateBlock
    val header = (0 until B).map(i => s"nav$i").mkString(" ")
    val docs = Seq(
      (1L, header + " " + (0 until B).map(i => s"a$i").mkString(" ") +
        " " + (0 until B).map(i => s"b$i").mkString(" ")),
      (2L, header + " " + (0 until B).map(i => s"c$i").mkString(" ")),
      (3L, header), // all boilerplate
      (4L, (0 until B).map(i => s"d$i").mkString(" ") + " tail words here")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_boiler_spec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.boilerplateScrub(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((3L, 1L,
      (0 until B).map(i => s"a$i").mkString(" ") + " " +
        (0 until B).map(i => s"b$i").mkString(" "))),
      s"doc 1 mis-scrubbed: ${out(1L)}")
    assert(out(2L) == ((2L, 1L, (0 until B).map(i => s"c$i").mkString(" "))))
    assert(out(3L) == ((1L, 1L, "")), "an all-boilerplate doc must empty out")
    // Doc 4: no shared blocks — untouched, including its short tail block.
    assert(out(4L) == ((2L, 0L,
      (0 until B).map(i => s"d$i").mkString(" ") + " tail words here")))
    graft.Fs.deleteRec(java.nio.file.Paths.get(dir))
  }

  test("boilerplate oracle ceiling exceeds every fixture corpus's max blocks") {
    // The DuckDB oracle enumerates blocks with a constant generate_series
    // capped at BoilerplateOracleMaxBlocks; a corpus whose longest doc
    // exceeds it would make the oracle silently truncate tail blocks and
    // read as a spurious Spark-vs-oracle mismatch. This gate turns that
    // documented hazard (TextAnalysis.BoilerplateOracleMaxBlocks scaladoc)
    // into a loud CI failure against every fixture SF the gate runs on.
    import graft.llm.TextAnalysis
    val B = TextAnalysis.BoilerplateBlock.toLong
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      val d = s"/root/testdata/$sf"
      if (new java.io.File(s"$d/documents.parquet").exists) {
        val maxBlocks = Tables.documents(spark, d)
          .agg(max(expr(
            s"cast((size(split(text, ' ')) + ${B - 1}) div $B as bigint)")))
          .head().getLong(0)
        assert(maxBlocks <= TextAnalysis.BoilerplateOracleMaxBlocks,
          s"$sf documents reach $maxBlocks blocks/doc — raise " +
            s"BoilerplateOracleMaxBlocks (${TextAnalysis.BoilerplateOracleMaxBlocks}) " +
            "or the oracle will silently truncate")
      }
    }
  }

  test("cluster profile partitions the corpus over the trained cells") {
    val emb = Tables.embeddings(spark, Sf)
    val n = emb.count()
    val rows = graft.llm.Similarity.clusterProfile(spark, Sf).collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == n,
      "every vector lands in exactly one cell")
    assert(rows.length <= graft.llm.Similarity.centroidsFor(n))
    assert(rows.forall(_.getAs[Double]("rms_dist") >= 0.0))
    graft.TrackedCaches.release()
  }
}
