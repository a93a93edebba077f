#!/usr/bin/env python
"""Scale smoke: replicate the sf0.1 testdata K× into /tmp and measure
the flagship queries at both scales.

The small-SF parity gate proves CORRECTNESS; this script produces
scaling EVIDENCE: each flagship query runs end-to-end (noop sink) on
the base dir and on a K×-replicated copy, and the report shows the
runtime ratio. A scale-correct plan should grow ≲ K (modulo fixed
per-stage overhead, which makes ratios < K on small inputs); anything
super-linear is a red flag worth a plan audit.

Replication preserves the workload's *shape* the way real growth
would: facts (events, lineitem, orders, documents, embeddings) multiply
with offset keys, dimensions (customer/supplier/part/nation/region)
stay fixed — so broadcast sides stay broadcastable while shuffle sides
grow, exactly the 100 TB regime. Document copies are textually
perturbed (" copyN" suffix) so the dedup ladder sees realistic
near-duplicate families of size K rather than bit-identical rows.

Usage: python scripts/scale_smoke.py [--k 10] [--base /root/testdata/sf0.1]
       [--out /tmp/lightsaber_scale] [--write SCALE.md]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "cm1_sliding_sum_by_type",
    "sg1_ref_window_3600_1",
    "sg1_ref_window_3600_1_minmax",
    "dedup_exact_groups",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_duplicate_groups",
    "dedup_keep_representatives",
    "pack_sequences_ctx512",
    "chunk_documents_ctx32",
    "upsample_documents_by_source",
    "tpch_q1_pricing_summary",
    "tpch_q20_excess_suppliers",
    "sim_ivf_topk",
    "sim_lsh_topk",
    "dedup_simhash",
    "theta_join_band_count",
    "asof_event_last_order_3d",
    "funnel_view_click_purchase",
    "text_context_length_histogram",
    "corpus_top_bigrams",
    "collocations_pmi_topk",
    "duplicated_passages_k10",
    "dedup_minhash_levenshtein",
    "pii_redact_stats",
    "url_deep_psl_domains",
    "url_private_psl_domains",
    "adaptive_compression_replan",
    "html_text_extraction",
    "lrb3_two_stage_dag",
    "text_bm25_topk",
    "profile_events_columns",
    "multimodal_audio_decode_real",
    "hll_distinct_users_by_type",
    "pagerank_customer_supplier",
    "mad_outlier_bounds_by_type",
    "source_ngram_overlap_matrix",
    "mixture_apply_quotas",
    "minhash_jaccard_calibration",
    "media_ahash_spectrum",
    # round 8
    "text_line_dedup_stats",
    "text_line_dedup_scrub",
    # round 9
    "dedup_semantic_groups",
    "url_canonical_dedup",
    # round 11
    "dedup_semantic_delta",
]

_COPY_UNCHANGED = ("region", "nation", "customer", "supplier", "part")


def build_scaled(base: str, out: str, k: int, only_tables=None) -> None:
    import duckdb

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    rep = f"range({k}) t(i)"
    specs = {
        # facts: replicate with offset keys; ts jittered per copy so
        # windows densify instead of stacking identical instants
        "events": f"""
            SELECT event_id + i * 1000000000 AS event_id,
                   ts + to_microseconds(i * 137) AS ts,
                   user_id, event_type, value, props
            FROM src, {rep}
        """,
        "documents": f"""
            SELECT doc_id + i * 10000000 AS doc_id,
                   CASE WHEN i = 0 THEN text
                        ELSE text || ' copy' || i END AS text,
                   lang, source,
                   CAST(length(CASE WHEN i = 0 THEN text
                        ELSE text || ' copy' || i END) AS BIGINT) AS n_chars
            FROM src, {rep}
        """,
        "embeddings": f"""
            SELECT vec_id + i * 10000000 AS vec_id, embedding
            FROM src, {rep}
        """,
        "orders": f"""
            SELECT o_orderkey + i * 100000000 AS o_orderkey,
                   o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                   o_orderpriority
            FROM src, {rep}
        """,
        "lineitem": f"""
            SELECT l_orderkey + i * 100000000 AS l_orderkey,
                   l_partkey, l_suppkey, l_linenumber, l_quantity,
                   l_extendedprice, l_discount, l_tax, l_returnflag,
                   l_linestatus, l_shipdate
            FROM src, {rep}
        """,
    }
    for t in _COPY_UNCHANGED:
        shutil.copyfile(f"{base}/{t}.parquet", f"{out}/{t}.parquet")
    for t, sql in specs.items():
        if only_tables is not None and t not in only_tables:
            shutil.copyfile(f"{base}/{t}.parquet", f"{out}/{t}.parquet")
            continue
        con.execute(
            f"CREATE OR REPLACE VIEW src AS SELECT * FROM read_parquet('{base}/{t}.parquet')"
        )
        con.execute(f"COPY ({sql}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    con.close()


def run(sf_dir: str, spark, names, count_rows: bool = False):
    """Per query: noop-sink wall time, and (optionally, as a SEPARATE
    untimed pass so the measurement stays the same plan as always) the
    output ROW COUNT — the evidence that super-linear runtime ratios on
    pair-emitting queries are output-bound, not machinery-bound."""
    from lightsaber_spark.functions.dedup import release_shingle_caches

    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    secs: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name in names:
        t0 = time.time()
        try:
            qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            secs[name] = round(time.time() - t0, 2)
        except Exception as ex:  # noqa: BLE001
            print(f"# error in {name}: {ex}", file=sys.stderr)
            secs[name] = -1.0
        finally:
            release_shingle_caches()
        if count_rows and secs[name] >= 0:
            try:
                rows[name] = qmap[name](spark, sf_dir).count()
            except Exception as ex:  # noqa: BLE001
                print(f"# count error in {name}: {ex}", file=sys.stderr)
                rows[name] = -1
            finally:
                release_shingle_caches()
    return (secs, rows) if count_rows else secs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/lightsaber_scale")
    ap.add_argument("--write", default=None)
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset of QUERIES to run")
    ap.add_argument("--tables", default=None,
                    help="comma-separated fact tables to replicate "
                         "(others copied at base scale) — keeps huge-K "
                         "builds cheap when only one table matters")
    ap.add_argument("--append", action="store_true",
                    help="append a section to --write instead of rewriting")
    args = ap.parse_args()
    queries = args.queries.split(",") if args.queries else QUERIES
    only_tables = set(args.tables.split(",")) if args.tables else None

    t0 = time.time()
    build_scaled(args.base, args.out, args.k, only_tables)
    build_s = round(time.time() - t0, 1)
    print(f"built {args.k}x data in {build_s}s -> {args.out}")

    from lightsaber_spark import get_spark

    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    # warm codegen/python workers
    from lightsaber_spark.session import load_tables

    load_tables(spark, args.base)["events"].count()

    # discard a full cold pass (codegen + python-worker startup lands
    # on whichever query runs first), then measure base warm, then
    # scaled on the already-warm JVM — both measured passes warm.
    # Output-row counts run as separate untimed passes, so the timed
    # plan is unchanged vs previous rounds.
    run(args.base, spark, queries)
    base_t, base_n = run(args.base, spark, queries, count_rows=True)
    scaled_t, scaled_n = run(args.out, spark, queries, count_rows=True)

    rows = []
    for n in queries:
        b, s = base_t[n], scaled_t[n]
        ratio = round(s / b, 1) if b > 0 and s > 0 else None
        nb, ns = base_n.get(n, -1), scaled_n.get(n, -1)
        out_ratio = round(ns / nb, 1) if nb > 0 and ns > 0 else None
        rows.append((n, b, s, ratio, nb, ns, out_ratio))
        print(
            f"{n:38s} base {b:7.2f}s  {args.k}x {s:7.2f}s  ratio {ratio}"
            f"  rows {nb}->{ns} (out ratio {out_ratio})"
        )

    if args.write:
        lines = []
        if not args.append:
            lines += [
                "# Scale smoke (generated by scripts/scale_smoke.py — do not edit)",
                "",
            ]
        lines += [
            f"## {args.k}× replication"
            + (f" ({args.tables} only)" if args.tables else ""),
            "",
            f"Base: `{args.base}`; scaled: {args.k}× replicated facts "
            "(offset keys, per-copy ts jitter, perturbed near-dup document "
            "copies), fixed dimensions — the fact/dim growth shape of a real "
            "corpus. Both passes measured warm (a discarded cold pass "
            "precedes them). `out rows` is the query's OUTPUT row count at "
            "each scale (counted in separate untimed passes).",
            "",
            "Reading the ratios:",
            f"- time ratio ≲ {args.k} ⇒ at-most-linear scaling; fixed "
            "per-stage overhead pushes small-input ratios well under K.",
            "- the window-spine queries (sg1*) are SPAN-bound, not "
            "data-bound — the replicated data covers the same time span, "
            "so their cost barely moves: the design property the prefix "
            "path exists for.",
            f"- the pair-emitting dedup queries (jaccard/minhash/"
            f"levenshtein/theta) face ~K²/2 = {args.k * args.k // 2}× more "
            "qualifying pairs per near-dup family (every copy pairs with "
            "every other). For those, the check is **time ratio ≤ out "
            "ratio**: runtime growing no faster than the answer itself is "
            "output-bound — the correct shape; runtime above output growth "
            "would be machinery-bound and a plan bug.",
            "- for AGGREGATED pair queries the out ratio UNDERSTATES true "
            "work: theta_join_band_count groups its pairs per left row, so "
            "result rows grow ~K while the qualifying-pair intermediate "
            "grows ~K² (band density on both sides). Measured round 7 at "
            "10×: 45,512 → 4,551,179 qualifying pairs (100.0×) against "
            "155,130 result rows (10.0×) — its time ratio (~11) compared "
            "against 100× of true work is strongly SUB-linear, so the "
            "round-6 'borderline machinery-bound' read used the wrong "
            "denominator.",
            "",
            f"| query | base s | {args.k}× s | time ratio | out rows base |"
            f" out rows {args.k}× | out ratio |",
            "|---|---|---|---|---|---|---|",
        ]
        for n, b, s, r, nb, ns, orat in rows:
            lines.append(f"| {n} | {b} | {s} | {r} | {nb} | {ns} | {orat} |")
        mode = "a" if args.append else "w"
        with open(args.write, mode) as f:
            if args.append:
                f.write("\n")
            f.write("\n".join(lines) + "\n")
        print(f"wrote {args.write}")
    payload = {
        "k": args.k, "base": base_t, "scaled": scaled_t,
        "base_rows": base_n, "scaled_rows": scaled_n, "build_s": build_s,
    }
    json_path = "SCALE.json"
    if args.append and os.path.exists(json_path):
        with open(json_path) as f:
            prior = json.load(f)
        prior = prior if isinstance(prior, list) else [prior]
        prior.append(payload)
        payload = prior
    with open(json_path, "w") as f:
        json.dump(payload, f)
    spark.stop()


if __name__ == "__main__":
    main()
