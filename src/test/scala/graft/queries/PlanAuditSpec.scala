package graft.queries

import graft.SparkSpec

/** Plan-quality regression guards: the PLANS.md audit claims, asserted
  * against the executed plans so a refactor that silently loses a
  * pushdown, a broadcast, or the custom operator FAILS here instead of
  * surfacing as a 100×-scale surprise. Plans are built on the sf0.001
  * testdata (plan STRUCTURE is sf-invariant).
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def planOf(df: => org.apache.spark.sql.DataFrame): String = {
    // scan metadata (PushedFilters/ReadSchema) renders truncated at
    // 100 chars by default — long filter lists would vanish from the
    // assertion surface. Save/restore: the session is shared across
    // suites, a leaked setting would be order-dependent.
    val key = "spark.sql.maxMetadataStringLength"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try df.queryExecution.executedPlan.toString
    finally spark.conf.set(key, saved)
  }
  private def plan(name: String): String =
    planOf(graft.SparkEntry.queries(name)(spark, dir))

  test("x_lr_pr_curve: scores from the stored feature relation, grid broadcast, no window") {
    val p = plan("x_lr_pr_curve")
    // the corpus is tokenized ONCE into the stored lr-feats relation —
    // the curve must consume it, never re-scan documents
    assert(!p.contains("documents.parquet"), p)
    // 1-row bounds + 11-row threshold spine arrive as broadcasts
    assert(p.contains("BroadcastExchange"), p)
    // the sweep is a fixed-grid aggregate — no per-score ranking
    // window anywhere (that would be a corpus-wide sort at scale)
    assert(!p.contains("Window"), p)
  }

  test("s23_delta_partitioned: Year filter prunes partition FILES, not just rows") {
    // every Delta read is ONE scan over the log-backed file index: one
    // relation whose partition columns are typed by schemaString and
    // valued from add.partitionValues, with the Year predicate landing
    // as a native PartitionFilter — files outside 1995 are never read
    // (the metric counts what the scan actually opened)
    val df = graft.SparkEntry.queries("s23_delta_partitioned")(spark, dir)
    df.collect() // execute so AQE finalizes and scan metrics fill
    val scans = graft.PlanProbe.fileScans(df.queryExecution.executedPlan)
    assert(scans.size == 1, s"expected ONE log-backed scan, got ${scans.size}")
    val scan = scans.head
    assert(scan.toString.contains("PartitionFilters") && scan.toString.contains("1995"),
      s"Year predicate must land as a partition filter:\n$scan")
    val filesRead = scan.metrics("numFiles").value
    val totalLive = scan.relation.location.inputFiles.length
    assert(filesRead < totalLive && filesRead > 0,
      s"partition filter should prune files: read $filesRead of $totalLive")
  }

  test("s54_iceberg_range: the scan's file list IS the bounds-pruned subset") {
    val df = graft.SparkEntry.queries("s54_iceberg_range")(spark, dir)
    df.collect()
    val scans = graft.PlanProbe.fileScans(df.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    // the files the scans select are ONLY the kept files: the log-backed
    // index holds every live file and skips, at planning, those whose
    // manifest bounds miss the range — a planner-level prune, not a row
    // filter
    val planned = scans.map(_.selectedPartitions.totalNumberOfFiles).sum
    val root = s"/tmp/graft-fixtures-p${ProcessHandle.current().pid()}/s54_iceberg_range"
    val total = graft.sources.IcebergTable
      .snapshot(spark, root).dataRefs.size
    assert(planned * 2 <= total && planned > 0,
      s"bounds must halve the PLANNED file list: $planned of $total")
    // and the residual range predicate is still pushed to the scan
    val p = scans.map(_.toString).mkString("\n")
    assert(p.contains("GreaterThanOrEqual") || p.contains("PushedFilters: [IsNotNull"),
      s"range residual must reach the scan:\n$p")
  }

  test("s53_delta_row_tracking: id assignment is a broadcast join, never a table shuffle") {
    val p = plan("s53_delta_row_tracking")
    // the (file -> baseRowId) map is metadata-sized: it must broadcast
    // into the provenance scan, not shuffle the table
    assert(p.contains("BroadcastHashJoin"),
      s"row-id map must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no table-wide shuffle to assign row ids:\n$p")
  }

  test("s33_delta_dv: deleted positions arrive as a BROADCAST anti-join, no table shuffle") {
    val p = plan("s33_delta_dv")
    // the DV tombstones (cardinality declared by the descriptors) must
    // broadcast into the scan stage — a sort-merge anti-join would
    // shuffle the whole table to drop a handful of rows
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"DV filter must be a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no table-wide shuffle for the DV filter:\n$p")
  }

  test("x_containment: df-capped pair generation — no cartesian product, no unpartitioned window") {
    val p = plan("x_containment")
    assert(!p.contains("CartesianProduct"), p)
    // the r17 rewrite computes corpus df via a shingle-PARTITIONED
    // window on the single postings exchange — fine at scale; what
    // stays forbidden is the SinglePartition collapse of a global
    // (unpartitioned) window
    assert(!p.contains("Window [") || !p.contains("SinglePartition"), p)
    val windowLines = p.linesIterator.filter(_.contains("Window ")).toSeq
    windowLines.foreach(l => assert(l.contains("shingle"), s"non-postings window: $l\n$p"))
  }

  test("q1_agg: shipdate predicate reaches the parquet scan as a raw-timestamp range") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
  }

  test("f2_date_split: both range bounds pushed to the scan") {
    val p = plan("f2_date_split")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("LessThan(l_shipdate"), p)
  }

  test("s3_scan_project: ReadSchema prunes to exactly the projected columns") {
    val p = plan("s3_scan_project")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>"), p)
  }

  test("j1_dim_join: the dimension side broadcasts (no fact-side shuffle)") {
    val p = plan("j1_dim_join")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_reconcile: no cartesian product; scalar max-SK stays in-plan as a broadcast") {
    val p = plan("q_reconcile")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q_reconcile: the only fact-sized single-partition exchange is the documented SK window") {
    val p = plan("q_reconcile")
    // exactly TWO SinglePartition exchanges, both documented: (1) the
    // increment-sized insert branch's surrogate-key row_number window
    // (r2-prescribed design — oracle pins the deterministic mapping;
    // the fact-sized path is SurrogateKey.scalable, guarded in
    // CovidPipelineSpec), and (2) the 1-row scalar max-SK aggregate
    // (partial agg map-side, one row per partition shuffled). A third
    // occurrence means an edit accidentally introduced a global sort.
    val n = "Exchange SinglePartition".r.findAllIn(p).length
    assert(n == 2, s"expected 2 documented SinglePartition exchanges, got $n:\n$p")
    // and the only Window over that exchange is the SK row_number
    assert("Window \\[row_number".r.findAllIn(p).length == 1, p)
    assert(p.contains("windowspecdefinition(o_orderkey"), p)
  }

  test("x_asof_join: plans through the custom operator, not a window fallback") {
    val p = plan("x_asof_join")
    assert(p.contains("AsOfJoin "), p)
  }

  test("x_asof_join: one exchange+sort per side, no nested-loop fallback (r6 drift pin)") {
    val p = plan("x_asof_join")
    // AsOfJoinExec declares ClusteredDistribution + (key, ts) ordering
    // per child; EnsureRequirements should satisfy that with exactly
    // one hash exchange and one sort per side. Expected exchanges: the
    // left event clustering, the purchase-agg partial->final, the
    // right clustering — plus NOTHING else (a fourth hash exchange or
    // any SinglePartition means a plan change slid in under the
    // operator; the r6 bench drift was diagnosed as JVM noise exactly
    // because this shape had NOT changed — keep it that way).
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 3, p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // both inputs sorted (key, ts) + the final presentation sort
    assert("Sort \\[".r.findAllIn(p).length == 3, p)
  }

  test("events.ts: raw range predicate reaches the parquet scan (NTZ read natively as LTZ)") {
    // SURVEY §8.4's promise for the events table: `ts` arrives as µs
    // TimestampType AT THE SCAN (GraftSession sets
    // spark.sql.parquet.inferTimestampNTZ.enabled=false), so a range
    // predicate pushes into parquet row-group pruning. A post-scan
    // NTZ->LTZ cast — the r6 interim normalization — silently voids
    // this: the filter compares cast(ts) and never reaches the source.
    import org.apache.spark.sql.functions.{col, lit}
    val p = planOf(graft.Tables.events(spark, dir)
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))))
    assert(p.contains("GreaterThanOrEqual(ts"), p)
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"), p)
  }

  test("x_range_join: interval bucketing yields an equi hash join, never a nested loop") {
    val p = plan("x_range_join")
    // the point of the bucket rewrite: a raw ts-between-ws-and-we join
    // would plan BroadcastNestedLoopJoin (per-partition quadratic);
    // bucket equality makes it a hash join with the range residual
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("x_source_cap: one per-source shuffle feeds the capping window") {
    val p = plan("x_source_cap")
    assert(p.contains("hashpartitioning(source"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("m1_update_merge: update-side filters pushed; single join on the merge key") {
    val p = plan("m1_update_merge")
    assert(p.contains("EqualTo(o_orderstatus,O)"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("j5_catalog_star: all four dimensions broadcast; one agg shuffle only") {
    val p = plan("j5_catalog_star")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 4, p)
    // the only hash exchange is the (region, brand) aggregation; the
    // fact scan feeds the 4-way broadcast join chain unshuffled
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
  }

  test("x_dedup_minhash_pairs: candidate graph served from stored state, not a re-sketch") {
    // since r5 the candidate-pair graph is RelationStore parquet
    // shared by five consumers (pairs view, both verifiers, component
    // labels, PageRank, triangles); the pairs view must be a plain
    // scan of it — a refactor that re-derives candidates from raw
    // text would re-run the signature pipeline per consumer
    val p = plan("x_dedup_minhash_pairs")
    assert(p.contains("graft-state-p"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the verifiers consume the same stored graph
    val j = plan("x_dedup_ngram_jaccard")
    assert(j.contains("graft-state-p"), j)
    val e = plan("x_dedup_edit")
    assert(e.contains("graft-state-p"), e)
  }

  test("m5_scd2: lag + lead windows share ONE user_id exchange (filter preserves sort)") {
    val p = plan("m5_scd2")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("m6_cdc_diff: full-outer snapshot diff is a key-partitioned sort-merge join") {
    val p = plan("m6_cdc_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("x_funnel: stage relations broadcast into the event scans, never shuffling events") {
    val p = plan("x_funnel")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x_retention: cohort map and sizes broadcast; no event-side merge join") {
    val p = plan("x_retention")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x_dedup_canonical: selection windows partition by component, no global sort") {
    val p = plan("x_dedup_canonical")
    assert(p.contains("hashpartitioning(component"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // labels arrive as shared materialized state (RelationStore), not
    // a re-run of the band→pairs→label-propagation pipeline — the
    // selection query's plan has no LSH machinery at all
    assert(p.contains("graft-state-p"), p)
    val comp = plan("x_dedup_components")
    assert(comp.contains("graft-state-p"), comp)
  }

  test("x_dedup_incremental: the stored index is a materialized relation, not a recomputed pipeline") {
    val p = plan("x_dedup_incremental")
    // the existing-corpus sketch joins as STORED state (RelationStore
    // parquet); a refactor that re-derives it from raw text would
    // re-sketch the whole corpus per day
    assert(p.contains("graft-state-p"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("x_ann_ivf: probes consume the STORED index — no embeddings scan, no training aggregates") {
    val p = plan("x_ann_ivf")
    // the trained index is materialized state: both join sides scan
    // the persisted replicated-assignment parquet; a refactor that
    // quietly re-derives cells from the raw corpus would re-train the
    // quantizer on every probe query
    assert(p.contains("graft-ivf-p"), p)
    assert(!p.contains("embeddings.parquet"), p)
    // probe cost shape: join + one per-query ranking window — none of
    // the Lloyd chain's k-row aggregates appear at probe time
    assert(!p.contains("partial_first"), p)
    val probe2 = plan("x_ann_ivf_probe2")
    assert(probe2.contains("graft-ivf-p") && !probe2.contains("embeddings.parquet"), probe2)
  }

  test("x_ann_query_novel: serving path — stored index only, no training, no corpus scan") {
    val p = plan("x_ann_query_novel")
    // novel queries are synthesized from range(); the corpus is reached
    // ONLY through the stored replicated-assignment relation, and the
    // reloaded centroid pivot is a materialized 1-row broadcast — none
    // of the Lloyd training aggregates may appear at serving time
    assert(p.contains("graft-ivf-p"), p)
    assert(!p.contains("embeddings.parquet"), p)
    assert(!p.contains("partial_first"), p)
    // probe fan-out broadcasts into the cell-bucketed store; a
    // SortMergeJoin here would shuffle the whole index per query batch
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x_posting_skew: consumes the stored posting relation — the corpus text is never re-tokenized") {
    val p = plan("x_posting_skew")
    assert(p.contains("graft-state-p"), p)
    assert(!p.contains("Generate explode"), p)
  }

  test("x_ivf_silhouette: audits the STORED index only — no embeddings scan, no training, broadcast centroids") {
    val p = plan("x_ivf_silhouette")
    // both the replicated assignment and the centroid relation are
    // materialized index state; a refactor that re-assigns or
    // re-trains per audit would re-pay the Lloyd chain every run
    assert(p.contains("graft-ivf-p"), p)
    assert(!p.contains("embeddings.parquet"), p)
    assert(!p.contains("partial_first"), p)
    // k-row centroids broadcast into the cell-bucketed index
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("text posting relation: tfidf/inverted-index/bm25 all consume the ONE stored (doc,token) store") {
    // the r7 consolidation: one corpus explode + (doc,token) shuffle
    // builds the posting store; all three consumers must read it back
    // as materialized state. A refactor that re-derives postings from
    // raw text re-tokenizes the corpus per query; one that reverts to
    // localCheckpoint pins corpus-sized executor memory (the r6
    // verdict's residency flag) and would show as Scan ExistingRDD.
    val tfidf = plan("x_tfidf_top_terms")
    assert(tfidf.contains("graft-state-p"), tfidf)
    assert(!tfidf.contains("ExistingRDD"), tfidf)
    assert(!tfidf.contains("Generate explode"), tfidf)
    val inv = plan("x_inverted_index")
    assert(inv.contains("graft-state-p"), inv)
    assert(!inv.contains("Generate explode"), inv)
    val bm25 = plan("x_bm25")
    assert(bm25.contains("graft-state-p"), bm25)
    // the serving-path contract: the fixed query vocabulary reaches
    // the store scan as a pushed In filter — probe cost ∝ the queried
    // terms' posting lists, never a corpus pass
    assert(bm25.contains("In(token"), bm25)
  }

  test("x_ann_compact: compacted serve reads STORED relations only - no corpus scan, no training") {
    val p = plan("x_ann_compact")
    // the compacted index and the tombstone set are materialized state
    // (graft-state-p); the before-count and the gated audit leg read
    // the stored assignment (graft-ivf-p). A refactor that re-derives
    // the compacted rows from the raw corpus would re-embed the
    // corpus scan (and the Lloyd aggregates) into every maintenance
    // audit run.
    assert(p.contains("graft-state-p"), p)
    assert(p.contains("graft-ivf-p"), p)
    assert(!p.contains("embeddings.parquet"), p)
    assert(!p.contains("partial_first"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_hard_negatives: mined from stored pairs + stored index - no corpus scan, no training") {
    val p = plan("x_hard_negatives")
    // anchors/positives come from the stored LSH pair relation and the
    // exclusion labels from the stored components (both graft-state-p);
    // candidates from the stored assignment (graft-ivf-p). Neither the
    // corpus embeddings nor the Lloyd chain may appear: this is the
    // nightly batch job over yesterday's materialized state.
    assert(p.contains("graft-state-p"), p)
    assert(p.contains("graft-ivf-p"), p)
    assert(!p.contains("embeddings.parquet"), p)
    assert(!p.contains("partial_first"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_bloom_filter / x_join_size_est: broadcast-only joins, key-column-pruned scans") {
    val b = plan("x_bloom_filter")
    // the bit relation broadcasts (16n distinct bits - never a
    // corpus-side shuffle join); every orders scan reads ONLY the key
    assert(!b.contains("SortMergeJoin") && !b.contains("CartesianProduct"), b)
    assert(b.contains("ReadSchema: struct<o_orderkey:bigint>"), b)
    assert(!b.contains("o_custkey"), b)
    val j = plan("x_join_size_est")
    // both estimate-side scans carry the sample hash as a DataFilter
    // and read only the join key - the 10%-of-shuffle cost contract
    assert(j.contains("ReadSchema: struct<o_orderkey:bigint>"), j)
    assert(j.contains("ReadSchema: struct<l_orderkey:bigint>"), j)
    assert(!j.contains("CartesianProduct"), j)
  }

  test("x_curation_funnel / x_datacard: flags and card read the stored dedup state") {
    val f = plan("x_curation_funnel")
    // decontamination probes the STORED benchmark-gram set (the
    // already-filtered contam_bench relation — never a benchmark
    // re-shingle); component labels are stored state. A refactor that
    // re-derives either would re-shingle or re-run label propagation
    // inside the report query.
    assert(f.contains("graft-state-p"), f)
    assert(f.contains("contam_bench"), f)
    assert(f.contains("dedup_components"), f)
    assert(!f.contains("CartesianProduct"), f)
    val d = plan("x_datacard")
    assert(d.contains("graft-state-p"), d)
    assert(!d.contains("CartesianProduct"), d)
  }

  test("x_ann_novel_recall / x_semdedup_coverage: measurement legs stay bucketed/broadcast") {
    // the recall measurement: exact leg is |Q|-broadcast against the
    // corpus (never a corpus-side shuffle join), served leg reads the
    // stored index; the coverage measurement: pair generation is the
    // LSH bucket equi-join and cell lookup reads stored assignment —
    // neither may degrade to an all-pairs product
    val r = plan("x_ann_novel_recall")
    assert(r.contains("graft-ivf-p"), r)
    assert(!r.contains("CartesianProduct"), r)
    // the ONE SortMergeJoin is the |Q|-sized exact-vs-served compare
    // (8 rows a side; AQE converts it at runtime) — the corpus-sized
    // legs must not contribute another
    assert("SortMergeJoin".r.findAllIn(r).length <= 1, r)
    val c = plan("x_semdedup_coverage")
    assert(c.contains("graft-ivf-p"), c)
    assert(!c.contains("CartesianProduct"), c)
  }

  test("x_contamination / x_dedup_substring: gram relations consumed as stored state") {
    // the r7 conversion of the last two corpus-sized in-query
    // localCheckpoints: both branches of each query must read the
    // persisted gram/window-hash relation back as parquet scans — a
    // revert to checkpoint sharing shows as Scan ExistingRDD, a
    // refactor that drops sharing re-shingles the corpus per branch
    val c = plan("x_contamination")
    assert(c.contains("graft-state-p"), c)
    assert(!c.contains("ExistingRDD"), c)
    assert(!c.contains("documents.parquet"), c)
    // the incremental gate: stored bench set broadcast, delta filter
    // pushed into the stored gram scan, no corpus read
    val i = plan("x_contamination_incr")
    assert(i.contains("graft-state-p"), i)
    assert(!i.contains("documents.parquet"), i)
    assert(i.contains("BroadcastHashJoin"), i)
    assert(!i.contains("SortMergeJoin"), i)
    val s = plan("x_dedup_substring")
    assert(s.contains("graft-state-p"), s)
    assert(!s.contains("ExistingRDD"), s)
    assert(!s.contains("documents.parquet"), s)
  }

  test("x_countmin: sketch builds from stored vocab, counters broadcast — no corpus pass") {
    val p = plan("x_countmin")
    assert(p.contains("graft-state-p"), p)
    assert(!p.contains("documents.parquet"), p)
    // the 24-cell counter table joins back broadcast — a SortMergeJoin
    // here would shuffle the vocabulary against a fixed-size sketch
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x_semantic_dedup: within-cell pairs from the stored index — no training, no corpus scan") {
    // SemDeDup reuses the stored IVF assignment as its clustering: the
    // pairwise leg must be a cell-equi self-join of the stored
    // relation (Σ cell², never corpus²) with no Lloyd aggregates and
    // no raw embeddings read at dedup time
    val p = plan("x_semantic_dedup")
    assert(p.contains("graft-ivf-p"), p)
    assert(!p.contains("embeddings.parquet"), p)
    assert(!p.contains("partial_first"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x_semantic_dedup_r2: replication lever keeps the stored-state-only economics") {
    // the rank-≤2 witness side must still come from the SAME stored
    // relation (the boundary-replicated rows are already in the index —
    // that is the whole point of the lever: 2× pair cost, ZERO extra
    // state); no training aggregates, no raw embeddings read, no
    // all-pairs product may appear at dedup time
    val p = plan("x_semantic_dedup_r2")
    assert(p.contains("graft-ivf-p"), p)
    assert(!p.contains("embeddings.parquet"), p)
    assert(!p.contains("partial_first"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x_knn_bulk: labeling probes the stored index — cell-equi join, labels projection-pruned") {
    // the bulk labeler's candidate generation must be the Σ cell²
    // cell-equi self-join of the stored relation (never |V|·corpus,
    // never a crossJoin); the ONLY embeddings read is the label join,
    // and it must arrive projection-pruned to (vec_id, label) — the
    // payload vectors stay unread
    val p = plan("x_knn_bulk")
    assert(p.contains("graft-ivf-p"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("partial_first"), p)
    assert(p.contains("ReadSchema: struct<vec_id:bigint,label:int>"), p)
  }

  test("x_semdedup_coverage_r2: measurement leg stays bucketed — no all-pairs product") {
    val p = plan("x_semdedup_coverage_r2")
    assert(p.contains("graft-ivf-p"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_ann_sq8: quantized serving reads the SQ8 store — no training, no raw embeddings") {
    // the quantized scorer must consume the persisted int8-code
    // relation (RelationStore) plus the stored probe machinery; a
    // refactor that re-quantizes from the raw corpus per query would
    // re-read float32 embeddings and defeat the 4× compression
    val p = plan("x_ann_sq8")
    assert(p.contains("graft-state-p"), p)
    assert(!p.contains("embeddings.parquet"), p)
    assert(!p.contains("partial_first"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x_semantic_dedup_incr: arrival gate touches stored state only — no corpus scan, no training") {
    // the incremental gate is the serving path with a τ filter:
    // arrivals are range()-built, assignment uses the stored centroid
    // pivot, candidates come from the stored cell-bucketed index
    val p = plan("x_semantic_dedup_incr")
    assert(p.contains("graft-ivf-p"), p)
    assert(!p.contains("embeddings.parquet"), p)
    assert(!p.contains("partial_first"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x_ivf_retrain_drift: diagnostic reads two stored k-row codebooks — no corpus scan at query time") {
    // the retrained codebook is stored state (built once per corpus
    // snapshot); the drift readout itself is a k×k broadcast argmax
    // over two metadata-sized relations — re-training per invocation
    // would put the 10-iteration Lloyd chain (and an embeddings scan)
    // back into every diagnostic run
    val p = plan("x_ivf_retrain_drift")
    assert(p.contains("graft-state-p") && p.contains("graft-ivf-p"), p)
    assert(!p.contains("embeddings.parquet"), p)
    assert(!p.contains("partial_first"), p)
  }

  test("x_pq_encode / x_pq_quality: consumers scan the stored encoded relation — no embeddings, no training") {
    // the PQ codebooks train and the corpus encodes ONCE into stored
    // state; both queries must be pure scans/aggregates of that
    // relation — a refactor that re-trains or re-encodes per query
    // would put four Lloyd chains and an embeddings scan behind every
    // read of a 4-byte code
    val e = plan("x_pq_encode")
    assert(e.contains("graft-state-p"), e)
    assert(!e.contains("embeddings.parquet"), e)
    assert(!e.contains("partial_first"), e)
    // the sample filter reaches the stored scan
    assert(e.contains("PushedFilters:"), e)
    val q = plan("x_pq_quality")
    assert(q.contains("graft-state-p"), q)
    assert(!q.contains("embeddings.parquet"), q)
  }

  test("x_pq_serve: ADC scan reads stored codes; all joins broadcast; no training") {
    // two-tier serving: the corpus-wide leg must touch the stored
    // 4-byte codes only (the 16× IO point of PQ); the LUT and the
    // candidate cut broadcast; embeddings.parquet may appear ONLY as
    // the candidate-sized rescore fetch (a broadcast join into the
    // scan), never under a Lloyd chain or a cartesian
    val p = plan("x_pq_serve")
    assert(p.contains("graft-state-p"), p)
    assert(!p.contains("partial_first"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_ivfpq_serve: composed index served from stored state — probes broadcast, no training") {
    // the IVFADC hot path: probes + ADC LUTs broadcast into the
    // cell-bucketed stored code relation; the Lloyd chains (IVF and
    // all four PQ subspaces) ran offline into the store — any
    // partial_first here means a consumer silently re-trains per query
    val p = plan("x_ivfpq_serve")
    assert(p.contains("graft-state-p"), p)
    assert(!p.contains("partial_first"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_hybrid_rrf: both legs serve from stored state — no re-tokenize, no training, no cartesian") {
    // the dense leg probes the stored IVF; the sparse leg reads the
    // stored posting relation (query terms, df, avgdl all derive from
    // it). A Generate explode here means a consumer re-tokenized the
    // corpus per query; partial_first means a Lloyd chain leaked into
    // serving
    val p = plan("x_hybrid_rrf")
    assert(p.contains("graft-state-p") && p.contains("graft-ivf-p"), p)
    assert(!p.contains("Generate explode"), p)
    assert(!p.contains("partial_first"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the ONLY embeddings touch is the 1-row query-vector fetch, and
    // its point predicate reaches the scan
    assert(p.contains("EqualTo(vec_id,0)"), p)
  }

  test("x_nb_score: model applies as a broadcast vocab join from stored state") {
    // deployment shape of the learned gate: the stored model must
    // broadcast onto the exploded token stream (a shuffle join THERE
    // would move the corpus against a vocab-sized relation). The
    // later doc_id join of eval docs to their score sums is two
    // eval-split-sized relations — a co-partitioned shuffle join is
    // the CORRECT shape for it at scale, so it is not banned
    val p = plan("x_nb_score")
    assert(p.contains("graft-state-p"), p)
    assert(p.contains("BroadcastHashJoin [token"), p)
  }

  test("x_ann_delete: tombstones apply as a broadcast anti-join over the stored index — no retrain") {
    // deletion is a serving-time filter: stored probe path unchanged,
    // one LeftAnti broadcast of the stored tombstone relation; a plan
    // that re-trains, rescans the raw corpus, or shuffles the index
    // for the anti-join defeats the delete-without-rebuild posture
    val p = plan("x_ann_delete")
    assert(p.contains("graft-ivf-p"), p)
    assert(!p.contains("embeddings.parquet"), p)
    assert(!p.contains("partial_first"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x_dedup_lsh_quality: ground truth is a shingle-postings equi-join, candidates the stored graph") {
    // the exact ground-truth leg must be the inverted-index route
    // (shingle equi-join), NEVER an all-pairs product of the sample;
    // the candidate leg reads the stored band graph
    val p = plan("x_dedup_lsh_quality")
    assert(p.contains("graft-state-p"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x_bpe_encode: tokenizer apply runs on stored state only — no corpus pass, no training") {
    // the encode map is vocab-sized work over TWO stored relations
    // (corpus vocabulary + trained merge table, the latter broadcast
    // as one pivoted row); a refactor that re-trains or re-explodes
    // the corpus per encode would show as explode/agg machinery here
    val p = plan("x_bpe_encode")
    assert(p.contains("graft-state-p"), p)
    assert(!p.contains("Generate explode"), p)
    assert(!p.contains("documents.parquet"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the audited merge table is likewise a stored-state scan
    val m = plan("x_bpe_merges")
    assert(m.contains("graft-state-p"), m)
    assert(!m.contains("documents.parquet"), m)
  }

  test("x_bpe_corpus_tokens: the word->pieces map joins broadcast into the token stream") {
    // the memoized-tokenizer serving shape: the corpus token stream
    // hash-joins against the vocabulary-bounded piece map as a
    // BROADCAST (an exploded-corpus shuffle against a map that fits
    // in memory would be the scale bug). The ONE permitted
    // SortMergeJoin is the final per-doc left join — documents vs the
    // doc_id-partitioned aggregate, both corpus-sized, correctly
    // key-co-partitioned.
    val p = plan("x_bpe_corpus_tokens")
    assert(p.contains("graft-state-p"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1, p)
    assert("SortMergeJoin".r.findAllIn(p).length <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s13_orc_roundtrip: predicates push into the ORC scan (format-agnostic pushdown)") {
    val p = plan("s13_orc_roundtrip")
    assert(p.contains("Scan orc"), p)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), IsNotNull(o_orderstatus), " +
      "LessThanOrEqual(o_orderkey,5000), EqualTo(o_orderstatus,F)]"), p)
  }

  test("p13_profile: all column statistics come from ONE scan (Expand-based multi-distinct)") {
    val p = plan("p13_profile")
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
    assert(p.contains("Expand"), p) // the documented ×3 multi-countDistinct expansion
  }

  test("a10_incremental: state merge is key-partitioned throughout — no single-partition collapse") {
    val p = plan("a10_incremental")
    assert(!p.contains("Exchange SinglePartition"), p)
    // both load windows' predicates reach their scans
    assert(p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("LessThan(l_shipdate"), p)
  }

  test("w5_date_spine: range predicate pushed; day aggregate broadcasts into the generated spine") {
    val p = plan("w5_date_spine")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") && p.contains("LessThan(o_orderdate"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("a11_outliers: top-|z| plans as TakeOrdered, never a global sort exchange") {
    val p = plan("a11_outliers")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("w6_ntile: quartile window partitions by status — no single-partition collapse") {
    val p = plan("w6_ntile")
    assert(p.contains("hashpartitioning(o_orderstatus"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate") && p.contains("LessThan(o_orderdate"), p)
  }

  test("x_collocations: vocab joins broadcast, top-20 is TakeOrdered — no doc-side merge join") {
    val p = plan("x_collocations")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("a12_winsorize: percentile bounds broadcast back — fact side never sort-merge-joined") {
    val p = plan("a12_winsorize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x_shuffle_shard: position window partitions by shard — no single-partition collapse") {
    val p = plan("x_shuffle_shard")
    assert(p.contains("hashpartitioning(shard"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("s19_snapshot_cdc: version diff is a key-partitioned full-outer merge join over both stored versions") {
    val p = plan("s19_snapshot_cdc")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    // both sides scan the snapshot log's version directories directly
    assert(p.contains("v=00000001/warehouse") && p.contains("v=00000002/warehouse"), p)
  }

  test("x_reshard_rendezvous: placement is pure map-side — no shuffle before the output sort") {
    val p = plan("x_reshard_rendezvous")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("Join"), p)
  }

  test("x_cluster_labels: labels join the two stores — no re-tokenize, no training, no raw scans") {
    // cartography must be store-only: cells from the persisted IVF
    // assignment, term stats from the persisted posting/vocab
    // relations; a documents.parquet or embeddings.parquet scan here
    // means a corpus pass the query has no business making
    val p = plan("x_cluster_labels")
    assert(p.contains("graft-ivf-p"), p)
    assert(p.contains("graft-state-p"), p)
    assert(!p.contains("documents.parquet"), p)
    assert(!p.contains("embeddings.parquet"), p)
    assert(!p.contains("partial_first"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only single-partition exchange is the 1-row corpus-total
    // scalar aggregate; ranking stays partitioned by cell
    assert("Exchange SinglePartition".r.findAllIn(p).length == 1, p)
  }

  test("x_dsir_select: weights from stored model+postings; selection is a distributed top-B") {
    // the importance weights must come from the STORED nb-model and
    // posting relations (broadcast model join — no retrain, no
    // corpus re-explode), and the top-B selection must be a
    // distributed TakeOrdered, never a global single-partition sort
    val p = plan("x_dsir_select")
    assert(p.contains("graft-state-p"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Sort [key_q"), p)
  }

  test("x_sketch_merge: sketch state merges through partial aggregation (one day shuffle)") {
    val p = plan("x_sketch_merge")
    // daily sketches: partial_hll_sketch_agg map-side before the day
    // exchange; the union-of-sketches aggregate likewise partials
    assert("Exchange hashpartitioning\\(day".r.findAllIn(p).length == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_whiten_top: whitening is pure map-side (μ, v as literals) + distributed TakeOrdered") {
    // the application pass must never join or shuffle the corpus: the
    // solved direction and mean enter as array literals, each row is
    // whitened in place, and the top-|projection| cut is TakeOrdered
    val p = plan("x_whiten_top")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x_zipf_fit: consumes the stored vocabulary only — no corpus pass at fit time") {
    // the OLS runs over the language-bounded stored vocab relation; a
    // documents.parquet scan here would be a corpus re-tokenize the
    // stored state exists to avoid
    val p = plan("x_zipf_fit")
    assert(p.contains("graft-state-p"), p)
    assert(!p.contains("documents.parquet"), p)
    assert(!p.contains("Join"), p)
    val p2 = plan("x_unigram_entropy")
    assert(p2.contains("graft-state-p"), p2)
    assert(!p2.contains("documents.parquet"), p2)
    assert(!p2.contains("Join"), p2)
  }

  test("x_datacard_diff: survivors come from the stored keep manifest — no gate re-run per metric leg") {
    // the curated side must join the materialized curated-keepset
    // relation; re-deriving it inline would re-run the corpus text
    // gate (tokenize + bigram + 4-gram contamination probe) once per
    // metric leg
    val p = plan("x_datacard_diff")
    assert(p.contains("graft-state-p"), p)
    assert(!p.contains("word_shingles"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_source_stats: rank window partitions by source — no single-partition collapse") {
    // per-source fits must parallelize across sources: the rank
    // window is source-partitioned and the OLS/entropy aggregate is
    // source-keyed; an empty window spec here would serialize the
    // whole (source, token) relation through one task
    val p = plan("x_source_stats")
    assert("row_number\\(\\) windowspecdefinition\\(source".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("Join"), p)
  }

  test("x_heaps_law: first-seen from stored postings; documents contribute a doc_id-only scan") {
    // the vocabulary-growth curve must not re-tokenize: token first
    // occurrence comes from the stored posting relation, and the only
    // corpus touch is the pruned doc_id column for the decile
    // boundaries and counts
    val p = plan("x_heaps_law")
    assert(p.contains("graft-state-p"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
    assert(!p.contains("word_shingles") && !p.contains("split("), p)
  }

  test("x_curriculum: ranking is bucket-partitioned two-level — no global-order window over the corpus") {
    // the global curriculum_rank must come from a bucket-PARTITIONED
    // row_number plus a broadcast 10-row offset join; a corpus-wide
    // row_number (empty partition spec) would be the SinglePartition
    // global sort this query exists to avoid
    val p = plan("x_curriculum")
    assert("row_number\\(\\) windowspecdefinition\\(bucket".r.findAllIn(p).nonEmpty, p)
    assert(!"row_number\\(\\) windowspecdefinition\\((h|doc_id)".r.findAllIn(p).nonEmpty, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_dup_source_matrix: pairs from the stored graph; corpus reduced by broadcast, never shuffled") {
    // the pair graph must come from the shared dedup-cand-pairs
    // stored relation (no re-sketch: no md5 banding in this plan),
    // the documents scan must prune to (doc_id, source), and the
    // corpus-side reduction must be a BroadcastHashJoin on the
    // endpoint set — a hashpartitioning exchange of the documents
    // scan would be a corpus shuffle the broadcast shape avoids
    val p = plan("x_dup_source_matrix")
    assert(p.contains("graft-state-p"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x_pca_power: Gram accumulation is map-side outer product — no self-join, one D²-key exchange") {
    // the declarative audit twin of the single-pass Aggregator build:
    // the D×D outer product must materialize inside one projection
    // (transform × transform), never as an exploded self-join — a
    // join here is a second corpus shuffle the map-side shape avoids
    val p = planOf(graft.queries.ExtQueries.pcaGramSums(spark, dir))
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning\\(pos".r.findAllIn(p).length == 1, p)
    assert(p.contains("partial_sum"), p)
  }

  test("pcaState: the serving Gram build is ONE pass — bounded-buffer partial agg, no explode, no join") {
    // the production leg both PCA queries run: a typed Aggregator
    // folding Gram+means+count into one 33 KB buffer per task; the
    // only exchange carries ≤one buffer row per task
    import spark.implicits._
    val ds = graft.Tables.embeddings(spark, dir)
      .select(org.apache.spark.sql.functions.col("embedding"))
      .as[Seq[Float]].select(graft.queries.PcaGramAgg.toColumn)
    val p = planOf(ds.toDF())
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p) // no posexplode of the corpus
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert("Exchange SinglePartition".r.findAllIn(p).length == 1, p)
  }
}
