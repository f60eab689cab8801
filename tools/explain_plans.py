"""Dump .explain('formatted') for the engine's key physical plans and
assert the plan properties that matter at 100 TB:

- parquet scans show PushedFilters / pruned ReadSchema (no `tokens` read
  when only counting)
- the nano oversize gate and validity routing evaluate BEFORE the Python
  UDF (Filter/Project below ArrowEvalPython in the tree)
- latest-wins shows partial_max_by (map-side combine) before the exchange
- small dims broadcast (BroadcastHashJoin) in the relational queries
- the quantized ANN is one BroadcastNestedLoopJoin + window, no shuffle of
  the big side

Writes docs/plans/<name>.txt and prints a PASS/FAIL property summary.
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "plans")


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from ztdf_spark import ops
    from ztdf_spark.settings import Settings

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # AQE off: the pre-execution formatted plan then shows codegen stars
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)
    sf = "/root/testdata/sf0.01"

    checks = []

    def dump(name, df, props):
        p = plan_of(df)
        with open(os.path.join(OUT, f"{name}.txt"), "w") as f:
            f.write(p)
        for desc, pattern, want in props:
            ok = bool(re.search(pattern, p, re.S)) == want
            checks.append((name, desc, ok))

    binlog = em._binlog(spark, sf)
    enc = ops.encrypt_batch(binlog.withColumn("tokens", F.array(F.lit(1))), Settings(), "nano")
    p_enc = plan_of(enc)
    n_udf_nodes = len(set(re.findall(r"\((\d+)\) ArrowEvalPython", p_enc)))
    with open(os.path.join(OUT, "encrypt_nano_routed.txt"), "w") as f:
        f.write(p_enc)
    checks.append(("encrypt_nano_routed", "exactly ONE python UDF eval (no duplicated crypto)", n_udf_nodes == 1))
    checks.append(("encrypt_nano_routed", "scan is parquet", "Scan parquet" in p_enc))

    lw = em.q_cdc_latest_wins(spark, sf)
    dump(
        "cdc_latest_wins",
        lw,
        [
            ("partial (map-side) aggregation before exchange", r"partial", True),
            ("single shuffle on doc_id", r"hashpartitioning\(doc_id", True),
        ],
    )

    # the pipeline's wide-row dedup: narrow HashAggregate winner keys +
    # broadcast join back — no sort, no wide shuffle
    wdf = ops.latest_wins_join(binlog.withColumn("tokens", F.array(F.lit(1))))
    dump(
        "latest_wins_join",
        wdf,
        [
            ("winner keys via HashAggregate (not SortAggregate)", r"HashAggregate", True),
            ("wide rows joined via broadcast (no wide shuffle)", r"BroadcastHashJoin", True),
            ("no sort-based aggregation", r"SortAggregate", False),
        ],
    )

    edd = em.q_events_dedup(spark, sf)
    dump(
        "events_dedup",
        edd,
        [
            ("duplicates pre-reduce map-side (partial min_by)", r"partial_min_by", True),
            ("single shuffle on the event key", r"hashpartitioning\(event_id", True),
            ("no window over the full row stream", r"Window", False),
        ],
    )

    elq = em.q_cdc_el_properties(spark, sf)
    dump(
        "cdc_el_properties",
        elq,
        [
            ("EL templates stay Catalyst-only (no Python eval)", r"EvalPython", False),
            ("stamped projection is codegen'd", r"\* (HashAggregate|Project)", True),
            ("partial agg before exchange", r"partial", True),
        ],
    )

    chf = em.q_cdc_changes_feed(spark, sf)
    dump(
        "cdc_changes_feed",
        chf,
        [
            ("delta-only interval takes the touched-keys fast path (semi joins)", r"LeftSemi", True),
            ("no cartesian in the winner diff", r"CartesianProduct", False),
            # the winner agg maxes a (seq, cseq) STRUCT — struct ordering has
            # no mutable agg buffer, so Spark picks SortAggregate over the
            # NARROW key columns; what matters at scale is the map-side
            # partial combine before the exchange (hot keys pre-reduced) —
            # round 3's "HashAggregate" match was the touched-keys distinct,
            # now a collected local relation (no cached-block leak)
            ("winner agg does map-side partial combine", r"partial_max\(struct\(lsn", True),
            ("touched-keys probe is a collected local relation", r"LocalTableScan", True),
            ("no persisted touched-keys block left behind", r"InMemoryTableScan", False),
        ],
    )

    # compacted table: read() must take the no-dedup fast path — base files
    # are one-row-per-key, so NO winner aggregation or join belongs in the
    # plan (the whole point of folding deltas down)
    cst = em.q_cdc_compacted_state(spark, sf)
    dump(
        "cdc_compacted_state",
        cst,
        [
            ("compacted read is a plain scan (no winner agg)", r"Aggregate", False),
            ("no join in the compacted read", r"Join", False),
        ],
    )

    # point lookup: winner reconstruction only over metadata-matched files
    # (pruned driver-side), the requested keys filtering the scan below the
    # winner aggregate — no key-probe join
    plk = em.q_cdc_point_lookup(spark, sf)
    dump(
        "cdc_point_lookup",
        plk,
        [
            ("requested keys pushed into the parquet scan", r"PushedFilters: \[In\(doc_id", True),
            ("no key-probe semi-join", r"LeftSemi", False),
            ("no cartesian", r"CartesianProduct", False),
        ],
    )

    q1 = em.q_tpch_q1_quantized(spark, sf)
    dump(
        "tpch_q1",
        q1,
        [
            ("filter pushed to parquet scan", r"PushedFilters: \[.*LessThanOrEqual", True),
            ("partial agg before exchange", r"partial", True),
            ("whole-stage codegen spans (starred nodes)", r"\* (HashAggregate|Project|Filter|ColumnarToRow)", True),
        ],
    )

    q3 = em.q_tpch_q3_shipping(spark, sf)
    dump(
        "tpch_q3",
        q3,
        [
            ("filtered dims broadcast into the fact join", r"BroadcastHashJoin", True),
            ("date filters pushed to the lineitem scan", r"PushedFilters: \[.*GreaterThan\(l_shipdate", True),
            ("no sort-merge join", r"SortMergeJoin", False),
        ],
    )

    q5 = em.q_tpch_q5_region_volume(spark, sf)
    dump(
        "tpch_q5",
        q5,
        [
            ("snowflake dims all broadcast", r"BroadcastHashJoin", True),
            ("no sort-merge join in the five-way join", r"SortMergeJoin", False),
            ("partial agg before exchange", r"partial", True),
        ],
    )

    jn = em.q_join_orders_nation(spark, sf)
    dump(
        "join_orders_nation",
        jn,
        [
            ("dims broadcast", r"BroadcastHashJoin", True),
            ("no sort-merge join of small dims", r"SortMergeJoin", False),
        ],
    )

    ann = em.q_ann_topk_quantized(spark, sf)
    dump(
        "ann_topk_quantized",
        ann,
        [
            ("query side broadcast (nested-loop cross)", r"BroadcastNestedLoopJoin", True),
            ("pushed filter isolating candidates", r"PushedFilters: \[.*GreaterThanOrEqual\(vec_id", True),
            # VERDICT r5 minor #3: the exact baseline's top-k must prune the
            # Q×N scored space per-partition BEFORE the exchange — Spark's
            # rank-limit pushdown inserts a partial WindowGroupLimit (a
            # per-partition top-k heap); only ≤ k·partitions rows shuffle
            ("per-partition top-k before the exchange", r"WindowGroupLimit .*row_number\(\), \d+, Partial", True),
        ],
    )
    dump(
        "ann_topk_cosine",
        em.q_ann_topk_cosine(spark, sf),
        [
            ("query side broadcast (nested-loop cross)", r"BroadcastNestedLoopJoin", True),
            ("per-partition top-k before the exchange", r"WindowGroupLimit .*row_number\(\), \d+, Partial", True),
        ],
    )

    jac = em.q_dedup_ngram_jaccard(spark, sf)
    dump(
        "dedup_ngram_jaccard",
        jac,
        [
            ("pair join on shingle via broadcast or shuffle", r"BroadcastExchange|hashpartitioning\(shingle", True),
        ],
    )

    nd = em.q_emb_near_dup(spark, sf)
    dump(
        "emb_near_dup",
        nd,
        [
            ("NO row-level cartesian (blocked GEMM instead)", r"CartesianProduct", False),
            ("no broadcast nested-loop over rows", r"BroadcastNestedLoopJoin", False),
            ("chunk-pair groups shuffle on (gi, gj)", r"hashpartitioning\(gi", True),
            ("GEMM kernel via FlatMapGroupsInPandas", r"FlatMapGroupsInPandas", True),
        ],
    )

    sb = em.q_ann_signbit_lsh(spark, sf)
    dump(
        "ann_signbit_lsh",
        sb,
        [
            ("bucketing is pure Catalyst (no Python eval)", r"ArrowEvalPython|BatchEvalPython", False),
            ("candidate join is an equi-join on the probe id", r"hashpartitioning\(probe|BroadcastHashJoin", True),
            ("NO cartesian anywhere", r"CartesianProduct", False),
        ],
    )

    ndl = em.q_emb_near_dup_lsh(spark, sf)
    dump(
        "emb_near_dup_lsh",
        ndl,
        [
            ("candidate join is an equi-join on the probe id", r"hashpartitioning\(probe|BroadcastHashJoin", True),
            ("NO cartesian anywhere", r"CartesianProduct", False),
        ],
    )

    cms = em.q_events_cms_topk(spark, sf)
    dump(
        "events_cms_topk",
        cms,
        [
            ("sketch cells pre-reduce map-side (partial count, <= d*w groups)", r"partial_count", True),
            ("exact top-k is TakeOrderedAndProject, never a full sort", r"TakeOrderedAndProject", True),
            ("probe side broadcasts", r"BroadcastHashJoin", True),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    hll = em.q_events_hll_registers(spark, sf)
    dump(
        "events_hll_registers",
        hll,
        [
            ("registers pre-reduce map-side (partial max, <= m groups)", r"partial_max", True),
            ("single exchange on the bucket", r"hashpartitioning\(bucket", True),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
            ("scan prunes to user_id only", r"ReadSchema: struct<user_id:bigint>", True),
        ],
    )

    dsr = em.q_corpus_dsir(spark, sf)
    dump(
        "corpus_dsir",
        dsr,
        [
            ("bucket counts pre-reduce map-side (bounded at n_buckets groups)", r"partial_count", True),
            ("score table and totals broadcast to the doc stream", r"BroadcastHashJoin|BroadcastNestedLoopJoin", True),
            ("per-doc rollup is a partial-combine integer sum", r"partial_sum", True),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
            ("no window over the token stream", r"\bWindow\b", False),
        ],
    )

    tch = em.q_text_chunks(spark, sf)
    dump(
        "text_chunks",
        tch,
        [
            # the only allowed exchange is the small-input scan-width guard
            # (ztdf_spark/spread.py): a ROUND-ROBIN repartition that never
            # fires on a ≥cluster-width scan — no hash/range shuffle exists
            ("map-only after the scan-width spread (no hash/range exchange)",
             r"Exchange (hash|range)partitioning", False),
            ("row explosion via Generate (posexplode), scan-side", r"Generate", True),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
            ("scan prunes to (doc_id, text)", r"ReadSchema: struct<doc_id:bigint,text:string>", True),
        ],
    )

    sdd = em.q_dedup_semantic(spark, sf)
    dump(
        "dedup_semantic",
        sdd,
        [
            ("the ONLY exchange is the hash shuffle on cell id", r"hashpartitioning\(cell", True),
            ("centroid assignment is Arrow-vectorized", r"ArrowEvalPython", True),
            ("within-cluster prune runs as grouped pandas", r"FlatMapGroupsInPandas", True),
            ("NO cartesian anywhere", r"CartesianProduct", False),
            ("no window over the full vector stream", r"\bWindow\b", False),
        ],
    )

    # delta-pruned MOR read (VERDICT r4 next-round #1): a mostly-compacted
    # table with one small delta commit must NOT winner-aggregate the
    # whole table — untouched base rows flow scan → broadcast anti-join
    mnt, _v1, _v2 = em._mor_lake_from_binlog(spark, sf, "planmnt", mutable=True)
    mnt.compact()
    mnt.merge(
        em._binlog(spark, sf)
        .filter(F.col("lsn") % 997 == 0)
        .select("op", "doc_id", "lsn", "n_tok", "source"),
        batch_id=99,
    )
    prd = mnt.read()
    p_prd = plan_of(prd)
    with open(os.path.join(OUT, "mor_read_delta_pruned.txt"), "w") as f:
        f.write(p_prd)
    n_base = len([x for x in mnt._files(mnt.snapshot()) if not x.get("delta")])
    # file counts per parquet scan: the anti-join branch reads ALL base
    # files; the winner branch must read strictly fewer (delta + matched)
    scan_counts = [
        int(m) if m else 1
        for m in re.findall(r"InMemoryFileIndex \[[^\]]*?(?:\.\.\. (\d+) entries)?\]", p_prd)
    ]
    checks.append(("mor_read_delta_pruned", "base rows resolved via one broadcast LEFT join (never shuffled)", "BroadcastHashJoin" in p_prd and "LeftOuter" in p_prd))
    checks.append(("mor_read_delta_pruned", "no shuffle of base rows (<=2 exchanges, all from the delta winner agg)", p_prd.count("Exchange hashpartitioning") <= 2))
    checks.append(("mor_read_delta_pruned", "delta winner agg keeps map-side partial combine", "partial_max(struct(lsn" in p_prd))
    checks.append(("mor_read_delta_pruned", "winner aggregate scans only the delta files, not the base", bool(scan_counts) and min(scan_counts) < max(scan_counts) and max(scan_counts) >= n_base))
    checks.append(("mor_read_delta_pruned", "no cartesian", "CartesianProduct" not in p_prd))

    # sequence packing: the global running sum must be the two-level prefix
    # sum (bucket window + broadcast offsets), never a single-partition
    # window, and the whole pipeline stays Catalyst-side
    dump(
        "tok_pack_chunks",
        em.q_tok_pack_chunks(spark, sf),
        [
            ("no single-partition funnel for the global cumsum", r"SinglePartition", False),
            ("bucket offsets joined as a broadcast local relation", r"BroadcastHashJoin", True),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
            ("no cartesian", r"CartesianProduct", False),
        ],
    )

    # decontamination: the benchmark shingle set broadcasts; the 100 TB
    # corpus side is never shuffled for the join (the only exchange is the
    # groupBy over the tiny hit rows)
    dump(
        "text_decontaminate",
        em.q_text_decontaminate(spark, sf),
        [
            ("benchmark shingles broadcast (corpus never shuffled for the join)", r"BroadcastHashJoin", True),
            ("no sort-merge join", r"SortMergeJoin", False),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # mixture sampling: a pure row-local predicate — no exchange anywhere,
    # no Python, no RNG partition dependence
    dump(
        "corpus_mixture",
        em.q_corpus_mixture(spark, sf),
        [
            ("no shuffle (row-local md5-threshold predicate)", r"Exchange", False),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # PQ ANN: scoring touches only the code column (one MapInPandas), the
    # rerank joins broadcast, and there is no all-pairs stage
    dump(
        "ann_pq",
        em.q_ann_pq(spark, sf),
        [
            ("one ADC scoring pass over the code column", r"MapInPandas", True),
            ("rerank joins broadcast", r"BroadcastHashJoin", True),
            ("no cartesian / all-pairs stage", r"CartesianProduct", False),
        ],
    )

    # as-of join: the union-scan rewrite — one hash exchange on the join
    # key feeding a per-key window; never a range-join explosion
    dump(
        "events_asof_join",
        em.q_events_asof_join(spark, sf),
        [
            ("no cartesian / range-join explosion", r"CartesianProduct|BroadcastNestedLoop", False),
            ("per-key window partitioned on the join key", r"hashpartitioning\(user_id", True),
            ("no single-partition funnel", r"SinglePartition", False),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # BPE encode: Arrow-batched python (the legitimate UDF stage) over a
    # pruned 2-column scan; no shuffle anywhere in the encode pass
    dump(
        "bpe_encode",
        em.q_bpe_encode(spark, sf),
        [
            ("Arrow-batched mapInPandas (not row-at-a-time)", r"MapInPandas|FlatMapGroupsInPandas", True),
            ("no row-at-a-time Python UDF", r"BatchEvalPython", False),
            ("map-only encode: zero exchanges", r"Exchange", False),
            ("column-pruned scan (doc_id, text only)", r"ReadSchema: struct<doc_id:bigint,text:string>", True),
        ],
    )

    # minhash/simhash: round-6 pure-Catalyst md5 constructions. Signature
    # derivation is map-only codegen; minhash candidates come from a
    # (band, bucket) equi-join — never a cross join, never Python workers.
    dump(
        "dedup_minhash_lsh",
        em.q_dedup_minhash_lsh(spark, sf),
        [
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
            ("no cartesian / all-pairs stage", r"CartesianProduct|BroadcastNestedLoop", False),
            ("candidates via (band,bucket) equi-join", r"\[band#\d+, bucket#\d+\]", True),
            # lane mins pre-reduce map-side before the doc_id exchange
            ("partial-combine signature aggregate", r"partial_min\(", True),
        ],
    )
    dump(
        "dedup_simhash",
        em.q_dedup_simhash(spark, sf),
        [
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
            # bit votes pre-reduce map-side: partial sum aggregate below the
            # ONE doc_id exchange (shuffle = docs x 60 longs, not words)
            ("partial-combine vote aggregate", r"partial_sum\(", True),
            ("single doc_id exchange", r"hashpartitioning\(doc_id", True),
            ("column-pruned scan (doc_id, text only)", r"ReadSchema: struct<doc_id:bigint,text:string>", True),
        ],
    )

    # canonicalization: keeper election must be a partial-combine aggregate
    # + equi-join back, never a window sort over the whole corpus
    dump(
        "dedup_canonicalize",
        em.q_dedup_canonicalize(spark, sf),
        [
            ("keeper election pre-reduces map-side (partial max)", r"partial_max\(", True),
            ("no global window sort for the keeper", r"Window", False),
            ("no cartesian / all-pairs stage", r"CartesianProduct", False),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # boilerplate-line removal: chunking is map-only higher-order funcs;
    # the doc-frequency distinct is two-phase; reassembly sorts IN-GROUP
    dump(
        "text_line_dedup",
        em.q_text_line_dedup(spark, sf),
        [
            ("two-phase distinct aggregate on the line", r"partial_count\(distinct", True),
            ("no global sort (array_sort is in-group)", r"\nSort |\(\d+\) Sort\b", False),
            ("no cartesian", r"CartesianProduct", False),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # deterministic split: a pure row-local predicate — NO exchange at all
    dump(
        "corpus_split",
        em.q_corpus_split(spark, sf),
        [
            ("map-only (no shuffle of any kind)", r"Exchange", False),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # hopping windows: membership expands MAP-SIDE (Expand/Generate before
    # the exchange), partial aggregation combines per map task
    dump(
        "events_hopping",
        em.q_events_hopping(spark, sf),
        [
            ("map-side window expansion", r"Expand|Generate", True),
            ("partial aggregation before the exchange", r"partial_count", True),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # interval join: equi-join on the key, time bound post-match — never a
    # cartesian / nested-loop explosion
    dump(
        "events_interval_join",
        em.q_events_interval_join(spark, sf),
        [
            ("equi-join, no cartesian / nested loop", r"CartesianProduct|BroadcastNestedLoop", False),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # deterministic shuffle: in-shard windows only — NO global sort
    dump(
        "corpus_shuffle",
        em.q_corpus_shuffle(spark, sf),
        [
            ("window partitioned on shard (no SinglePartition funnel)", r"SinglePartition", False),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # vocab top-N: the cut must plan as TakeOrderedAndProject (per-partition
    # top-N + single merge), never a full global sort
    dump(
        "vocab_top_terms",
        em.q_vocab_top_terms(spark, sf),
        [
            ("top-N via TakeOrderedAndProject", r"TakeOrderedAndProject", True),
            ("hash aggregates with map-side combine", r"partial_count", True),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # PII scrub: four regexp_counts + chained replace, all row-local —
    # map-only bar the scan-width spread (ztdf_spark/spread.py: round-robin
    # only, never fires on a ≥cluster-width scan), no Python
    dump(
        "text_pii_scrub",
        em.q_text_pii_scrub(spark, sf),
        [
            ("map-only after the scan-width spread (no hash/range exchange)",
             r"Exchange (hash|range)partitioning", False),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # repetition metrics: exploded grams feed two HASH aggregations with
    # map-side partial combine — never SortAggregate, never a window/sort
    dump(
        "text_repetition",
        em.q_text_repetition(spark, sf),
        [
            ("partial aggregation before the exchange", r"partial_count", True),
            ("hash aggregation, never sort-based", r"SortAggregate", False),
            ("no global sort / window funnel", r"SinglePartition", False),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # z-order secondary-column scan: on the delta-free clustered snapshot
    # the read is a STRAIGHT parquet scan of the pruned file subset — no
    # winner join, no aggregate, and the band predicate reaches the scan
    # (PushedFilters), so row groups inside surviving files skip too
    zs = em.q_cdc_zorder_scan(spark, sf)
    dump(
        "cdc_zorder_scan",
        zs,
        [
            ("band predicate pushed to parquet", r"PushedFilters: \[.*GreaterThanOrEqual\(n_tok", True),
            ("no winner join on the clean snapshot", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", False),
            ("no aggregate (straight scan)", r"HashAggregate|SortAggregate", False),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # Bloom-prefiltered decontamination: the bit-test filter (xxhash64 →
    # element_at/shiftright over ONE plan-literal long array) kills
    # non-candidate corpus shingles MAP-SIDE, below any exchange; the
    # whole probe stays JVM-side
    dump(
        "text_decontaminate_bloom",
        em.q_text_decontaminate_bloom(spark, sf),
        [
            ("map-side Bloom bit-test on the corpus shingles", r"xxhash64", True),
            ("bit extraction in Catalyst (shiftright)", r"shiftright", True),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
            ("no cartesian product", r"CartesianProduct", False),
        ],
    )

    # Quality-classifier scoring (the 100 TB path of the operator): final
    # quantized weights ride as a plan literal probed via element_at — no
    # weights join — and the per-doc dot product is a partial-combine
    # int64 aggregate; nothing leaves the JVM
    dump(
        "corpus_quality_classifier",
        em.q_corpus_quality_classifier(spark, sf),
        [
            ("partial (map-side) aggregation before exchange", r"partial", True),
            ("weights probed from a literal (no weights join)", r"element_at", True),
            ("pure Catalyst scoring (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
            ("no cartesian product", r"CartesianProduct", False),
        ],
    )

    # Unigram-LM Viterbi tokenization (the 100 TB path after training):
    # ONE Arrow-batched MapInPandas pass with the model in the closure —
    # map-only, zero exchanges
    dump(
        "tok_unigram_encode",
        em.q_tok_unigram_encode(spark, sf),
        [
            ("single Arrow-batched python stage", r"MapInPandas|ArrowEvalPython", True),
            ("map-only: zero exchanges", r"Exchange", False),
            ("no join, no aggregate", r"Join|HashAggregate|SortAggregate", False),
        ],
    )

    # WordPiece MaxMatch tokenization (the 100 TB path after training):
    # same contract as BPE/unigram encode — ONE Arrow-batched MapInPandas
    # pass with the vocabulary in the closure, map-only, zero exchanges
    dump(
        "tok_wordpiece_encode",
        em.q_tok_wordpiece_encode(spark, sf),
        [
            ("single Arrow-batched python stage", r"MapInPandas|ArrowEvalPython", True),
            ("map-only: zero exchanges", r"Exchange", False),
            ("no join, no aggregate", r"Join|HashAggregate|SortAggregate", False),
        ],
    )

    # Temperature sampling: after the bounded count aggregate (eager,
    # during construction), the returned plan is scan + row-local md5
    # filter — zero exchanges, no join, nothing Python
    dump(
        "corpus_temperature_sample",
        em.q_corpus_temperature_sample(spark, sf),
        [
            ("row-local filter only: zero exchanges", r"Exchange", False),
            ("no join (thresholds are literals)", r"Join", False),
            ("pure Catalyst (no Python workers)", r"BatchEvalPython|ArrowEvalPython|MapInPandas", False),
        ],
    )

    # Exact quantiles: the RESULT is a bounded driver-assembled relation
    # (4 rows); the scale-bearing work happened in the counting passes,
    # whose no-sort/partial-combine property is pinned in
    # tests/test_quantiles.py::test_counting_pass_never_sorts
    dump(
        "events_exact_quantiles",
        em.q_events_exact_quantiles(spark, sf),
        [
            ("bounded local result (selection ran as counting passes)",
             r"LocalTableScan|LocalRelation|ExistingRDD", True),
            ("no sort anywhere in the assembled result", r"Sort ", False),
        ],
    )

    # Best-fit-decreasing packing: ONE hash exchange on the md5 shard key,
    # per-shard BFD in a grouped Arrow stage — never a global sort and
    # never a single-partition funnel
    dump(
        "tok_pack_bestfit",
        em.q_tok_pack_bestfit(spark, sf),
        [
            ("grouped Arrow python stage", r"FlatMapGroupsInPandas", True),
            ("hash-partitioned on shard", r"hashpartitioning\(shard", True),
            ("no single-partition funnel", r"SinglePartition", False),
        ],
    )

    # ExactSubstr span dedup: the duplicate decision is a partial-combine
    # hash count on the gram md5; coverage applies map-side via an
    # index-lambda filter after ONE equi-join on doc_id — no windows, no
    # global sort, no Python
    dump(
        "dedup_substring",
        em.q_dedup_substring(spark, sf),
        [
            ("gram counts pre-reduce map-side (partial_count)", r"partial_count", True),
            ("no window funnel / global sort", r"Window|SinglePartition", False),
            ("no cartesian product", r"CartesianProduct", False),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # BM25: query table broadcast; tf/df partial-combine; corpus scalars ride
    # a one-row broadcast; final top-k is a partial WindowGroupLimit heap
    # BELOW the exchange, so only k rows per partition per query move
    dump(
        "text_bm25",
        em.q_text_bm25(spark, sf),
        [
            ("tf/df pre-reduce map-side (partial aggregation)", r"partial_count", True),
            ("query terms + corpus scalars broadcast", r"BroadcastHashJoin", True),
            ("per-partition top-k before the exchange", r"WindowGroupLimit .*row_number\(\), \d+, Partial", True),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    # bigram LM scoring: model tables via partial-combine hash aggregates,
    # token-stream scoring joins stay equi (the only nested-loop is the
    # one-row broadcast of T), rollup is a hash aggregate
    dump(
        "corpus_lm_score",
        em.q_corpus_lm_score(spark, sf),
        [
            ("partial aggregation before the exchange", r"partial_count", True),
            ("no cartesian product", r"CartesianProduct", False),
            ("hash aggregation, never sort-based", r"SortAggregate", False),
            ("pure Catalyst (no Python workers)", r"ArrowEvalPython|BatchEvalPython", False),
        ],
    )

    width = max(len(f"{n}: {d}") for n, d, _ in checks)
    fails = 0
    for n, d, ok in checks:
        print(f"{'PASS' if ok else 'FAIL'}  {n}: {d}")
        fails += 0 if ok else 1
    print(f"\n{len(checks) - fails}/{len(checks)} plan properties hold; plans in docs/plans/")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
