package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Locks the plan PROPERTIES the 100 TB design depends on — broadcast
  * dims, pushed filters, pruned scans, no cartesian blowups — as spec
  * assertions over the formatted explain, so a regression in plan shape
  * fails CI instead of waiting for the bench's shuffle-byte gate (or a
  * judge's manual audit) to notice. String-level on purpose: the
  * formatted explain is the stable user-facing surface of these
  * properties.
  */
class PlanShapeSpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  test("fact-dim joins broadcast the dims (q5, q9)") {
    Seq("q5_local_supplier", "q9_product_profit").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: no broadcast join in\n$p")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
    }
  }

  test("LSH dedup family plans contain no cartesian product") {
    Seq("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_embedding",
      "ann_lsh", "text_contamination").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), s"$q: cartesian product")
    }
  }

  test("q1 scan prunes to the aggregation's columns") {
    val read = plan("q1_pricing_summary").linesIterator
      .find(_.trim.startsWith("ReadSchema"))
      .getOrElse(fail("no ReadSchema line"))
    // struct<...> column count = commas + 1 inside the top-level struct
    val inner = read.substring(read.indexOf("struct<") + 7, read.lastIndexOf(">"))
    val nCols = inner.split(",").count(_.contains(":"))
    assert(nCols <= 7, s"q1 reads $nCols columns: $read")
  }

  test("q6 pushes its range predicates into the lineitem scan") {
    val p = plan("q6_revenue_delta")
    val pushed = p.linesIterator.filter(_.trim.startsWith("PushedFilters"))
      .mkString("\n")
    assert(pushed.contains("GreaterThan") || pushed.contains("range"),
      s"q6: no pushed range filters:\n$pushed")
  }

  test("asof-join native operator appears in its plan") {
    val p = plan("q_asof_join_native")
    assert(p.toLowerCase.contains("asof"), "native asof node missing from plan")
  }

  test("tfidf broadcasts the document-frequency table and uses no window exchange") {
    val p = plan("text_tfidf_topterms")
    // the vocabulary-sized df table and the 1-row corpus count must ride
    // broadcast joins back onto the (doc, term) counts — a shuffle join
    // here would move the whole count table twice at 100 TB
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"tfidf: no broadcast join in\n$p")
    // top-3 per doc is an in-array struct sort, not a rank window — a
    // Window node would mean an extra per-doc sort exchange crept in
    assert(!p.contains("Window"), s"tfidf: window exchange crept in\n$p")
    assert(!p.contains("CartesianProduct"), "tfidf: cartesian product")
  }

  test("tfidf and emb_kmeans compute their shared intermediates ONCE (no twin subtrees)") {
    // Both queries feed one corpus-scale aggregate into two consumers
    // (tf → df-table leg + probe leg; the last Lloyd centroids → final
    // assignment + norms). Exchange reuse does NOT dedupe either pair —
    // column pruning makes the twin partial aggregates canonically
    // different — so both now materialize the shared intermediate via
    // localCheckpoint instead. Pin the result: the remaining plan holds
    // at most ONE corpus (parquet) scan, with the materialized
    // intermediate appearing as an RDD scan. A second parquet scan here
    // means the duplicated pass crept back (2× the dominant cost at
    // 100 TB).
    def scansAndRdd(name: String): (Int, Boolean) = {
      val p = plan(name)
      (p.linesIterator.count(_.trim.matches("""\(\d+\) Scan parquet\s*""")),
        p.contains("ExistingRDD"))
    }
    // tfidf: probe + df legs read the checkpointed (doc, term) counts;
    // the only parquet scan left is the column-less corpus row count
    val (tfidfScans, tfidfRdd) = scansAndRdd("text_tfidf_topterms")
    assert(tfidfScans <= 1, s"tfidf: $tfidfScans parquet scans — twin tf subtree is back")
    assert(tfidfRdd, "tfidf: checkpointed tf intermediate missing from the plan")
    // kmeans: one final-assignment scan against checkpointed centroids
    val (kmScans, kmRdd) = scansAndRdd("emb_kmeans")
    assert(kmScans == 1, s"emb_kmeans: expected 1 corpus scan, got $kmScans")
    assert(kmRdd, "emb_kmeans: checkpointed centroids missing from the plan")
  }

  test("ivf serving read derives the probes leg ONCE and keeps dynamic partition pruning") {
    // Against a cell-partitioned persisted index the probes leg used to
    // be derived twice — once as the DPP filter subquery, once as the
    // broadcast join side (docs/PLANS.md ann_ivf_append note). ivfQuery
    // now localCheckpoints the (query_id, cell, qe) rows, so the probe
    // ranking runs exactly once, eagerly; the serving plan must contain
    // NO in-plan derivation (the array_sort ranking) and must still
    // prune cell directories dynamically (the checkpoint scan carries a
    // synthetic selective predicate precisely so DPP stays eligible).
    val p = plan("ann_ivf_append")
    assert(!p.contains("array_sort"),
      s"probes leg re-derived in the serving plan:\n$p")
    assert(p.contains("ExistingRDD"), "checkpointed probes missing from the plan")
    val partLine = p.linesIterator.filter(_.trim.startsWith("PartitionFilters"))
      .mkString("\n")
    assert(partLine.toLowerCase.contains("dynamicpruning"),
      s"dynamic partition pruning lost on the standing-index scan:\n$p")
  }

  test("rankedByGroup operators execute ONE shared range exchange (ReusedExchange)") {
    // Graft.rankedByGroup's offsets are only consistent with its local
    // ranks when both branches observe the same range bounds — which
    // Spark guarantees via exchange reuse (independent executions
    // sample bounds with rdd-id-derived seeds). Pin the ReusedExchange
    // node in the EXECUTED plan so a change that breaks the canonical
    // match (e.g. a payload column pruned below one branch) fails CI
    // instead of silently mis-ranking at partial-sampling sizes.
    // every registry instance of the kernel is pinned — including
    // ann_recall_eval's brute-force truth leg (added r9/r10), whose
    // mis-ranking under divergent bounds would silently corrupt the
    // recall metric itself
    Seq("q_median_by_group", "q_decile_stats", "q_quartiles_by_group",
      "text_length_percentiles", "ann_recall_eval").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // Look only at the FINAL adaptive plan (the toString appends the
      // "== Initial Plan ==" section, where the not-yet-deduped pair
      // legitimately appears twice). The kernel's explicit repartition
      // prints REPARTITION_BY_NUM (the final orderBy's range exchange
      // is ENSURE_REQUIREMENTS): exactly ONE such Exchange may execute,
      // and the reused consumer must be a ReusedExchange OF a range
      // exchange — a generic contains("ReusedExchange") would pass
      // vacuously off some other deduped exchange (e.g. q_decile_stats'
      // aggregate shuffle) while the range bounds silently diverge.
      val finalP = p.split("== Initial Plan ==")(0)
      val executedKernelExchanges = finalP.linesIterator.count(l =>
        l.contains("Exchange rangepartitioning") && l.contains("REPARTITION_BY_NUM") &&
          !l.contains("ReusedExchange"))
      assert(executedKernelExchanges == 1,
        s"$q: expected exactly 1 executed kernel range exchange, got " +
          s"$executedKernelExchanges — the kernel's branches may sample divergent bounds:\n$finalP")
      assert(finalP.linesIterator.exists(l =>
        l.contains("ReusedExchange") && l.contains("rangepartitioning")),
        s"$q: no ReusedExchange of the range exchange in the final plan:\n$finalP")
    }
  }

  test("ann recall eval broadcasts both small legs and has no cartesian blowup") {
    val p = plan("ann_recall_eval")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"recall_eval: no broadcast join in\n$p")
    assert(!p.contains("CartesianProduct"), "recall_eval: cartesian product")
  }

  test("substring dedup joins stay non-cartesian; PQ serving never explodes the corpus") {
    Seq("dedup_substring", "dedup_substring_apply").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), s"$q: cartesian product")
    }
    // ann_pq's TRAINING explode (Lloyd means) is sealed behind the
    // codebook's localCheckpoint; the SERVING plan must be narrow —
    // corpus scan × broadcast codebook/tables, in-row array argmin and
    // ADC lookups, one window for the top-k. No Generate (a corpus
    // explosion would multiply the scan by subspaces × dims), no
    // cartesian, and only the top-k window + output ordering may
    // exchange.
    val p = plan("ann_pq")
    assert(!p.contains("CartesianProduct"), "ann_pq: cartesian product")
    assert(!p.contains("Generate"), s"ann_pq: serving plan explodes the corpus\n$p")
    val exchanges = p.linesIterator.count(_.trim.matches("[+\\-:\\s]*Exchange.*"))
    assert(exchanges <= 3, s"ann_pq: $exchanges exchanges in the serving plan\n$p")
  }

  test("tombstone masking is a broadcast anti-join on the serving path, never a shuffle") {
    // The delete channel's scale contract: tombstones are
    // delete-traffic-sized, so masking them out of a serve must
    // broadcast the tombstone set against the corpus-sized scan — a
    // shuffled anti-join would move the whole index to mask a handful
    // of ids. Pinned on both the IVF serve and the quantized serve.
    for (name <- Seq("ann_ivf_delete", "ann_ivfpq_delete")) {
      val p = plan(name)
      val anti = p.linesIterator.filter(_.contains("LeftAnti")).mkString("\n")
      assert(anti.nonEmpty, s"$name: no anti-join in the masked serving plan\n$p")
      assert(anti.contains("BroadcastHashJoin"),
        s"$name: the tombstone anti-join is not broadcast:\n$anti\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: cartesian product")
    }
  }

  test("LWW view: the corpus-sized base pays one broadcast anti-join; winner joins broadcast") {
    // loadLww's scale contract: winner selection (per-key max batchId
    // over segments ∪ tombstones) runs on the DELTA only, and the
    // corpus-sized base leg is touched by exactly one BROADCAST
    // anti-join of the touched keys — a shuffled anti-join (or a
    // window over base ∪ segments) would move the whole index to
    // supersede a handful of updates. The winner row-join back into
    // the segments is likewise broadcast (winners are delta-sized).
    import graft.operators.AnnSuite
    import graft.sources.{Scratch, Tables}
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
    val dir = Scratch.dir("lww_plan_spec")
    AnnSuite.ivfSave(AnnSuite.ivfBuild(e.filter(col("vec_id") % 7 =!= 3),
      "vec_id", "embedding", AnnSuite.IvfK), dir)
    AnnSuite.ivfAppend(spark, dir, e.filter(col("vec_id") % 7 === 3),
      "vec_id", "embedding", batchId = 0L)
    AnnSuite.IvfStore.delete(spark, dir,
      e.filter(col("vec_id") % 13 === 2).select("vec_id"), "vec_id", batchId = 1L)
    val p = AnnSuite.ivfLoadLww(spark, dir).assigned.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    val anti = p.linesIterator.filter(_.contains("LeftAnti")).mkString("\n")
    assert(anti.nonEmpty, s"LWW view: no anti-join masking the base\n$p")
    assert(anti.contains("BroadcastHashJoin"),
      s"LWW view: the touched-keys anti-join is not broadcast:\n$anti\n$p")
    val inner = p.linesIterator
      .filter(l => l.contains("BroadcastHashJoin") && l.contains("Inner"))
      .mkString("\n")
    assert(inner.nonEmpty,
      s"LWW view: the winner row-join is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "LWW view: cartesian product")
  }

  test("ivfpq serving prunes code partitions dynamically and stays narrow") {
    // The IVFADC serving contract: the persisted codes are
    // cell-partitioned and a query batch must read ONLY its probed
    // cells — dynamic partition pruning against the checkpointed
    // probes leg (the ivfQuery pattern: probes derive once, eagerly,
    // and carry the synthetic selective predicate DPP needs). The ADC
    // side stays flat PQ's narrow shape: broadcast codebook/tables,
    // in-row integer lookups, no Generate, no cartesian.
    val p = plan("ann_ivfpq")
    assert(!p.contains("CartesianProduct"), "ann_ivfpq: cartesian product")
    assert(!p.contains("Generate"), s"ann_ivfpq: serving plan explodes the corpus\n$p")
    assert(!p.contains("array_sort"),
      s"ann_ivfpq: probes leg re-derived in the serving plan:\n$p")
    assert(p.contains("ExistingRDD"), "ann_ivfpq: checkpointed probes missing")
    val partLine = p.linesIterator.filter(_.trim.startsWith("PartitionFilters"))
      .mkString("\n")
    assert(partLine.toLowerCase.contains("dynamicpruning"),
      s"ann_ivfpq: dynamic partition pruning lost on the codes scan:\n$p")

    // residual IVFADC: the corpus-side legs (residual computation,
    // encode, scoring) must be sealed behind the residual frame's
    // localCheckpoint — only query-side Generates (the nprobe probe
    // ranking over ≤ 5 rows) may remain in the serving plan, and
    // nothing goes cartesian
    val pr = plan("ann_ivfpq_residual")
    assert(!pr.contains("CartesianProduct"), "ann_ivfpq_residual: cartesian product")
    assert(pr.contains("ExistingRDD"),
      "ann_ivfpq_residual: checkpointed residual frame missing from the plan")

    // the PERSISTED residual index serves with the same pruned-read
    // contract as the plain one: the (query, cell)-keyed ADC tables
    // derive from the checkpointed probe leg (cell >= 0 attached), so
    // dynamic partition pruning restricts the cell-partitioned code
    // scan to the probed cells
    val pp = plan("ann_ivfpq_residual_persisted")
    assert(!pp.contains("CartesianProduct"),
      "ann_ivfpq_residual_persisted: cartesian product")
    assert(pp.contains("ExistingRDD"),
      "ann_ivfpq_residual_persisted: checkpointed probes missing")
    val ppPart = pp.linesIterator.filter(_.trim.startsWith("PartitionFilters"))
      .mkString("\n")
    assert(ppPart.toLowerCase.contains("dynamicpruning"),
      s"ann_ivfpq_residual_persisted: dynamic partition pruning lost on the codes scan:\n$pp")

    // the quantized APPEND chain serves base ∪ segment codes — both
    // legs cell-partitioned; the serving read must stay
    // dynamically pruned and the plan free of cartesian blowups
    val pa = plan("ann_ivfpq_append")
    assert(!pa.contains("CartesianProduct"), "ann_ivfpq_append: cartesian product")
    val paPart = pa.linesIterator.filter(_.trim.startsWith("PartitionFilters"))
      .mkString("\n")
    assert(paPart.toLowerCase.contains("dynamicpruning"),
      s"ann_ivfpq_append: dynamic partition pruning lost on the codes scan:\n$pa")
  }
}
