package graft

import graft.operators.{AnnSuite, DedupSuite, MultimodalSuite, TextSuite}

class LlmOpsSpec extends SparkSpecBase {

  test("ngram-jaccard LSH candidates: perfect precision, bounded recall vs the exact pair set") {
    // ADVICE r2: the LSH candidate generator can miss true pairs near the
    // 0.5 threshold (one-band collision ≈ 82% at j=0.5), and the oracle
    // mirrors the same approximation — so this spec bounds it against the
    // EXACT all-pairs set (feasible at sf0.001), the way the ann_ivf spec
    // bounds IVF against brute force.
    import org.apache.spark.sql.functions._
    org.apache.spark.sql.graft.Bridge.register(spark)
    val docs = graft.sources.Tables.documents(spark, sf)
      .withColumn("ws", split(lower(col("text")), " "))
      .filter(size(col("ws")) >= 3)
      .withColumn("shingles", expr(DedupSuite.ShinglesExpr))
      .select(col("doc_id"), col("lang"), col("source"), col("shingles"))
    val a = docs.select(col("doc_id").as("da"), col("lang").as("la"),
      col("source").as("sa"), col("shingles").as("sha"))
    val b = docs.select(col("doc_id").as("db"), col("lang").as("lb"),
      col("source").as("sb"), col("shingles").as("shb"))
    val exact = a.join(b,
        col("la") === col("lb") && col("sa") === col("sb") && col("da") < col("db"))
      .withColumn("j", expr("jaccard_sim(sha, shb)"))
      .filter(col("j") >= 0.5)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupSuite.queries("dedup_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // precision 1.0 by construction: candidates are post-verified exactly
    assert(lsh.subsetOf(exact), s"LSH emitted non-pairs: ${lsh -- exact}")
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.75, s"recall $recall below bound (exact=${exact.size}, lsh=${lsh.size})")
    }
  }

  test("embeddings width is 64 — the ann_ivf oracle's range(1,65) depends on it") {
    import org.apache.spark.sql.functions._
    val dims = graft.sources.Tables.embeddings(spark, sf)
      .select(size(col("embedding"))).distinct().collect().map(_.getInt(0)).toSeq
    assert(dims == Seq(64),
      s"embedding dim changed to $dims: update the DuckDB range() bound in AnnSuite's ann_ivf oracle")
  }

  test("contamination: every injected copy of a benchmark doc is flagged against its original") {
    import org.apache.spark.sql.functions._
    val flagged = TextSuite.queries("text_contamination")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bench_id"), r.getAs[Long]("n_shared")))
    // expected: copies (id+1000000) of benchmark docs (id%50==0) with >=13 words
    val expectedCopies = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 50 === 0 && size(split(lower(col("text")), " ")) >= 13)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expectedCopies.nonEmpty, "fixture needs at least one long benchmark doc")
    expectedCopies.foreach { id =>
      assert(flagged.exists(f => f._1 == id + 1000000L && f._2 == id && f._3 > 0),
        s"copy of benchmark doc $id not flagged")
    }
    flagged.foreach { case (_, bench, n) => assert(bench % 50 == 0 && n > 0) }
  }

  test("stratified sample: deterministic, bounded, and en downsampled harder") {
    val rows = TextSuite.queries("text_sample_stratified")(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> (r.getAs[Long]("n_total"), r.getAs[Long]("n_sampled"))).toMap
    rows.foreach { case (_, (total, sampled)) =>
      assert(sampled >= 0 && sampled <= total)
    }
    // hash selection is deterministic: a second run is identical
    val again = TextSuite.queries("text_sample_stratified")(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> (r.getAs[Long]("n_total"), r.getAs[Long]("n_sampled"))).toMap
    assert(rows == again)
    // en keeps ~10%, others ~30% — with enough docs the rates separate
    val (enT, enS) = rows("en")
    if (enT >= 100) assert(enS.toDouble / enT < 0.25, s"en sampled $enS/$enT")
  }

  test("length percentiles: ordered, and p50 matches a driver-side exact computation") {
    import org.apache.spark.sql.functions._
    val rows = TextSuite.queries("text_length_percentiles")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("p50") <= r.getAs[Int]("p90"))
      assert(r.getAs[Int]("p90") <= r.getAs[Int]("p99"))
    }
    val en = rows.find(_.getAs[String]("lang") == "en").get
    val lens = graft.sources.Tables.documents(spark, sf).filter(col("lang") === "en")
      .select(size(split(col("text"), " "))).collect().map(_.getInt(0)).sorted
    val p50 = lens((math.ceil(lens.length * 0.5) - 1).toInt)
    assert(en.getAs[Int]("p50") == p50)
    assert(en.getAs[Long]("n_docs") == lens.length)
  }

  test("mm_dedup: every injected binary copy groups with its original") {
    val groups = MultimodalSuite.queries("mm_dedup")(spark, sf).collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies")).toMap
    val originals = graft.sources.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0))
    assert(originals.nonEmpty)
    // every %10 doc was copied, so its byte-exact group must exist with
    // the original as survivor (unless another doc shares its bytes —
    // then the survivor is the smaller id, still present as a key <= id)
    originals.foreach { id =>
      assert(groups.exists { case (k, n) => k <= id && n >= 2 },
        s"no dedup group for copied doc $id")
    }
  }

  test("mm_phash groups subsume the byte-exact groups") {
    val phash = MultimodalSuite.queries("mm_phash")(spark, sf).collect()
    assert(phash.nonEmpty, "identical payloads must share a perceptual signature")
    phash.foreach { r =>
      val sig = r.getAs[Long]("phash")
      assert(sig >= 0L && sig < (1L << 16), s"signature $sig must be 16-bit")
      assert(r.getAs[Long]("n_similar") >= 2L)
    }
    // byte-identical payloads hash identically, so perceptual grouping
    // can only merge exact groups, never split them: the perceptual
    // member count must cover at least the exact-dup member count
    val exactMembers = MultimodalSuite.queries("mm_dedup")(spark, sf).collect()
      .map(_.getAs[Long]("n_copies")).sum
    val phashMembers = phash.map(_.getAs[Long]("n_similar")).sum
    assert(phashMembers >= exactMembers,
      s"perceptual members $phashMembers < exact members $exactMembers")
  }

  test("dedup_summary rollup matches the per-method outputs it composes") {
    val rows = DedupSuite.queries("dedup_summary")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("method")).toSeq == Seq("exact", "minhash_lsh", "simhash"))
    val byMethod = rows.map(r => r.getAs[String]("method") ->
      (r.getAs[Long]("n_found"), r.getAs[Long]("n_docs"))).toMap
    val exact = DedupSuite.queries("dedup_exact")(spark, sf).collect()
    assert(byMethod("exact") == ((exact.length.toLong, exact.map(_.getAs[Long]("n_copies")).sum)))
    val mh = DedupSuite.queries("dedup_minhash_lsh")(spark, sf).collect()
    val mhDocs = mh.flatMap(r => Seq(r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).distinct.length
    assert(byMethod("minhash_lsh") == ((mh.length.toLong, mhDocs.toLong)))
  }

  test("exact dedup finds exactly the injected duplicate groups") {
    val rows = DedupSuite.queries("dedup_exact")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("keep_id") % 10 == 0, "injected dups are the %10 doc copies")
      assert(r.getAs[Long]("n_copies") == 2L)
    }
  }

  test("minhash-lsh recovers the injected exact duplicates at jaccard 1.0") {
    val pairs = DedupSuite.queries("dedup_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard")))
    val exact = pairs.filter { case (a, b, _) => b == a + 1000000L }
    assert(exact.nonEmpty, "every injected copy shares all shingles with its source")
    exact.foreach { case (_, _, j) => assert(j == 1.0) }
    pairs.foreach { case (_, _, j) => assert(j >= 0.7 && j <= 1.0) }
  }

  test("simhash pairs respect the hamming threshold and include exact dups at distance 0") {
    val rows = DedupSuite.queries("dedup_simhash")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Int]("hamming") <= 6))
    assert(rows.exists(r => r.getAs[Long]("doc_b") == r.getAs[Long]("doc_a") + 1000000L &&
      r.getAs[Int]("hamming") == 0))
  }

  test("brute-force ANN: 5 queries × top-5, cosines in [-1,1] and descending per query") {
    val rows = AnnSuite.queries("ann_bruteforce")(spark, sf).collect()
    assert(rows.length == 25)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val cos = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cos"))
      assert(cos.forall(c => c >= -1.0 && c <= 1.0))
      assert(cos.zip(cos.tail).forall { case (x, y) => x >= y })
    }
  }

  test("IVF ANN probes limited cells and overlaps brute-force results") {
    val ivf = AnnSuite.queries("ann_ivf")(spark, sf).collect()
    assert(ivf.nonEmpty)
    ivf.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("cell")).distinct.length <= 2, "nprobe=2")
      assert(rs.length <= 3)
    }
    val bf = AnnSuite.queries("ann_bruteforce")(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val hits = ivf.count(r => bf.contains((r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))))
    assert(hits > 0, "IVF should recover some exact top-5 neighbors")
  }

  test("text quality/tokens: ratios bounded, counts consistent") {
    TextSuite.queries("text_quality")(spark, sf).collect().foreach { r =>
      val sr = r.getAs[Double]("stop_ratio")
      assert(sr >= 0 && sr <= 1)
      assert(r.getAs[Int]("n_stop") <= r.getAs[Int]("n_words"))
    }
    TextSuite.queries("text_tokens")(spark, sf).collect().foreach { r =>
      assert(r.getAs[Int]("n_bpe_tokens") >= r.getAs[Int]("n_ws_tokens"),
        "BPE-ish tokens split at least as fine as whitespace")
    }
  }

  test("langid predicts a known language with en dominant on this corpus") {
    val rows = TextSuite.queries("text_langid")(spark, sf).collect()
    val preds = rows.map(_.getAs[String]("lang_pred"))
    assert(preds.toSet.subsetOf(Set("en", "de", "es", "fr", "zh", "unknown")))
    assert(preds.count(_ == "en") > rows.length / 2)
  }

  test("fingerprints are stable across runs and content-sensitive") {
    val a = TextSuite.queries("text_fingerprint")(spark, sf).collect()
    val b = TextSuite.queries("text_fingerprint")(spark, sf).collect()
    assert(a.map(_.toSeq).sameElements(b.map(_.toSeq)))
    assert(a.map(_.getAs[String]("fp_bow")).distinct.length > a.length / 2,
      "distinct docs should mostly get distinct fingerprints")
  }

  test("multimodal extract: byte plumbing is real") {
    val rows = MultimodalSuite.queries("mm_extract")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bytes") > 0)
      assert(r.getAs[Int]("first_byte") >= 0 && r.getAs[Int]("first_byte") < 256)
      assert(r.getAs[Long]("fake_label") == r.getAs[Long]("n_bytes") % 7)
      assert(Set("image", "audio").contains(r.getAs[String]("media_type")))
    }
  }

  test("tfidf top-terms: ranked, score-consistent, and terms unique per doc") {
    import org.apache.spark.sql.functions._
    val rows = TextSuite.queries("text_tfidf_topterms")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (doc, rs) =>
      val byRk = rs.sortBy(_.getAs[Int]("rk"))
      assert(byRk.length <= 3 && byRk.map(_.getAs[Int]("rk")).toSeq == (1 to byRk.length),
        s"doc $doc: rk must be a dense 1..n prefix")
      val scores = byRk.map(_.getAs[Long]("score")).toSeq
      assert(scores == scores.sorted.reverse, s"doc $doc: scores must be descending")
      val terms = rs.map(_.getAs[String]("term"))
      assert(terms.distinct.length == terms.length, s"doc $doc: duplicate top term")
    }
    rows.foreach { r =>
      // score is exactly tf·N·1e6 div df — re-derive from the row's own counts
      assert(r.getAs[Long]("score") ==
        r.getAs[Long]("tf") * nDocs * 1000000L / r.getAs[Long]("df"))
      assert(r.getAs[Long]("df") >= 1 && r.getAs[Long]("df") <= nDocs)
    }
  }

  test("ann recall eval: matches the intersection of the ivf and brute-force registry results") {
    val eval = AnnSuite.queries("ann_recall_eval")(spark, sf).collect()
    assert(eval.length == 5, "one row per query vector")
    // independent recomputation from the two registry legs this op composes
    val truth = LlmOpsSpec.topPairs(
      AnnSuite.queries("ann_bruteforce")(spark, sf).collect(), 3)
    val got = LlmOpsSpec.topPairs(AnnSuite.queries("ann_ivf")(spark, sf).collect(), 3)
    eval.foreach { r =>
      val q = r.getAs[Long]("query_id")
      assert(r.getAs[Long]("n_truth") == 3L)
      val expectHits = (truth(q) intersect got.getOrElse(q, Set.empty)).size.toLong
      assert(r.getAs[Long]("hits") == expectHits,
        s"query $q: hits ${r.getAs[Long]("hits")} != recomputed $expectHits")
      assert(r.getAs[Long]("recall_e6") ==
        math.floor(expectHits.toDouble * 1e6 / 3 + 0.5).toLong)
    }
  }

  test("ann pq/ivfpq recall: hits_adc matches an exact L2 top-3 recomputed from the raw vectors") {
    // the L2 grader recomputed outside Spark: sequential double sum of
    // squared differences, floor(x*1e6+0.5), ties by cand_id
    val vecs = graft.sources.Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def l2e6(a: Array[Float], b: Array[Float]): Long = math.floor(a.indices.foldLeft(0.0) {
      (acc, i) => val d = a(i).toDouble - b(i).toDouble; acc + d * d } * 1e6 + 0.5).toLong
    val truth = vecs.filter(_._1 < 5).map { case (q, qv) =>
      q -> vecs.filter(_._1 != q).map { case (c, cv) => (l2e6(qv, cv), c) }
        .sorted.take(3).map(_._2).toSet
    }.toMap
    assert(truth.size == 5)
    Seq("ann_ivfpq_recall" -> "ann_ivfpq", "ann_pq_recall" -> "ann_pq").foreach {
      case (recall, served) =>
        val got = AnnSuite.queries(served)(spark, sf).collect()
          .filter(_.getAs[Long]("rk") <= 3)
          .groupBy(_.getAs[Long]("query_id"))
          .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cand_id")).toSet }
        val rows = AnnSuite.queries(recall)(spark, sf).collect()
        assert(rows.map(_.getAs[Long]("query_id")).toSet == truth.keySet, recall)
        rows.foreach { r =>
          val q = r.getAs[Long]("query_id")
          assert(r.getAs[Long]("n_truth") == 3L, s"$recall query $q")
          val expectHits = (truth(q) intersect got.getOrElse(q, Set.empty)).size.toLong
          assert(r.getAs[Long]("hits_adc") == expectHits,
            s"$recall query $q: hits_adc ${r.getAs[Long]("hits_adc")} != recomputed $expectHits")
        }
    }
  }

  test("emb_kmeans: full partition of the corpus, seed-labeled, inertia consistent") {
    val rows = AnnSuite.queries("emb_kmeans")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= AnnSuite.IvfK,
      "at most k clusters, none empty in output")
    val e = graft.sources.Tables.embeddings(spark, sf)
    assert(rows.map(_.getAs[Long]("n_members")).sum == e.count(),
      "every vector lands in exactly one cluster")
    rows.foreach { r =>
      assert(r.getAs[Long]("inertia_e6") >= 0L && r.getAs[Long]("norm_e6") >= 0L)
      assert(r.getAs[Long]("n_members") > 0L)
    }
    // cluster labels are the ORIGINAL seed ids — they survive both
    // Lloyd rounds (centroids move, labels don't); recompute the seed
    // set through the shared helper and require containment
    val seedIds = AnnSuite.kmeansSeeds(
        e.select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding")), AnnSuite.IvfK)
      .collect().map(_.getAs[Long]("cid")).toSet
    val cids = rows.map(_.getAs[Long]("cid")).toSet
    assert(cids.subsetOf(seedIds),
      s"cluster labels must be seed vec_ids; stray: ${cids -- seedIds}")
  }

  test("dedup_keep_best: provenance policy overrides min-id exactly where it should") {
    val rows = DedupSuite.queries("dedup_keep_best")(spark, sf).collect()
    assert(rows.nonEmpty)
    // groups are exactly the injected %10 pairs (the exact-dedup spec
    // already proves there are no natural text collisions)
    val groups = rows.groupBy(r => math.min(r.getAs[Long]("doc_id"),
      r.getAs[Long]("doc_id") % 1000000L))
    groups.foreach { case (orig, rs) =>
      assert(rs.length == 2 && orig % 10 == 0)
      assert(rs.map(_.getAs[Long]("kept")).sum == 1L, s"group $orig: exactly one canonical")
      val expectedKeep = if (orig % 20 == 0) orig + 1000000L else orig
      rs.foreach { r =>
        assert(r.getAs[Long]("keep_id") == expectedKeep,
          s"group $orig: curated copies must win, crawl copies must lose")
        assert(r.getAs[Long]("n_copies") == 2L)
      }
    }
  }
}

object LlmOpsSpec {
  /** (query_id → set of cand_id) for rows with rk <= k. */
  private[graft] def topPairs(rows: Array[org.apache.spark.sql.Row], k: Int): Map[Long, Set[Long]] =
    rows.filter(_.getAs[Int]("rk") <= k)
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cand_id")).toSet }
}
