#!/usr/bin/env python
"""Empirical scale-slope study (SCALE.md §11): generate a deterministic
~10x documents/embeddings slice and measure wall-clock slopes of the
heaviest dedup/ANN battery entries at sf0.1 vs the 10x slice.

The slice mimics the sf0.1 testdata's structure (vocabulary extracted
from the real table, same length/lang/source mix, 64-dim label-clustered
unit embeddings) at 10x rows, written under /tmp — a one-off measurement
fixture, not a new testdata contract. Seeded numpy RNG (20260816) makes
it bit-reproducible.

Usage:
    python tools/scale_slopes.py gen            # write /tmp/spark_graft_sf1x
    python tools/scale_slopes.py run [entries]  # min-of-3 at both scales
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.environ.get("SPARK_GRAFT_10X_DIR", "/tmp/spark_graft_sf1x")
SEED = 20260816
N_DOCS, N_VECS = 50_000, 20_000

# §12 family: multimodal codecs (pure-Python per-payload cost — the
# likeliest linear-but-steep family) + stateful/streaming entries. The
# media entries derive their payload corpora from documents.doc_id, so
# the same 10x documents slice scales them; the streaming event entries
# need the 10x events synth below.
MULTIMODAL_STREAMING_ENTRIES = [
    "multimodal_frame_decode",
    "multimodal_frame_sample",
    "multimodal_gif_interlaced",
    "multimodal_scene_cuts",
    "multimodal_image_phash",
    "multimodal_image_dhash",
    "multimodal_phash_near_pairs",
    "multimodal_phash_clusters",
    "multimodal_audio_decode",
    "multimodal_audio_haar_bands",
    "multimodal_media_router",
    "streaming_frame_decode",
    "streaming_media_router",
    "streaming_tumbling_counts",
    "streaming_session_windows",
    "streaming_stateful_totals",
    "streaming_windowed_topk",
    "streaming_dedup_within_watermark",
    "python_datasource_stream",
]

# §13 family: the relational/rules tier (the last unmeasured one).
# These drive the REAL TPC-H-shaped facts, so gen() synthesizes 10x
# lineitem+orders (deterministic replication with orderkey offsets —
# FK-consistent, dims stay 1x like a real fact-growth year does).
# pipeline_a_ist_scaled and the PEC-width rule engine are measured by
# their own fixture knob (n_facilities 10x) in run_s13_fixtures().
RELATIONAL_RULES_ENTRIES = [
    "flagship_pnls_chain",
    "pricing_summary",
    "product_type_profit",
    "market_share_by_year",
    "nation_volume_shipping",
    "min_cost_supplier_part",
    "promo_revenue_share",
    "shipping_priority_top10",
    "rules_engine_lineitem",
    "rules_inconsistent_routing",
]

# §14 family (r12): the web-crawl ingest tier. All six are documents-
# driven fixtures, so the same 10x documents slice scales them; the
# expected shapes are per-row maps (html/quality), small-group aggs
# (warc shard fixture), and per-key windows (robots/frontier/pld).
CRAWL_ENTRIES = [
    "warc_record_parse",
    "html_text_extract",
    "robots_prefix_filter",
    "quality_linear_classifier",
    "crawl_frontier_schedule",
    "url_pld_quota",
]

DEFAULT_ENTRIES = [
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard_pairs",
    "dedup_ngram_prefix_filter",
    "dedup_ngram_dfcap_pairs",
    "dedup_canonical_corpus",
    "dedup_connected_components",
    "dedup_semantic_clusters",
    "cdc_chunk_dedup",
    "embed_ivf_kmeans_topk",
    "embed_pq_adc_topk",
]


def gen() -> None:
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    vocab = sorted({
        w
        for (t,) in con.execute(
            f"SELECT text FROM read_parquet('{SRC}/documents.parquet') LIMIT 2000"
        ).fetchall()
        for w in t.split()
    })
    rows = con.execute(
        f"SELECT lang, count(*) FROM read_parquet('{SRC}/documents.parquet') GROUP BY 1 ORDER BY 1"
    ).fetchall()
    langs = [r[0] for r in rows]
    weights = [r[1] for r in rows]
    nsrc = con.execute(
        f"SELECT count(DISTINCT source) FROM read_parquet('{SRC}/documents.parquet')"
    ).fetchone()[0]
    wl_lo, wl_hi = con.execute(
        f"SELECT min(len(string_split(text,' '))), max(len(string_split(text,' ')))"
        f" FROM read_parquet('{SRC}/documents.parquet')"
    ).fetchall()[0]

    rng = np.random.default_rng(SEED)
    lens = rng.integers(wl_lo, wl_hi + 1, size=N_DOCS)
    lang_idx = rng.choice(
        len(langs), size=N_DOCS, p=np.array(weights) / sum(weights)
    )
    src_idx = rng.integers(0, nsrc, size=N_DOCS)
    V = np.array(vocab)
    texts = [
        " ".join(V[rng.integers(0, len(V), size=lens[i])])
        for i in range(N_DOCS)
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(N_DOCS), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array([langs[j] for j in lang_idx]),
                "source": pa.array([f"src{j}" for j in src_idx]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{DST}/documents.parquet",
    )

    cent = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, size=N_VECS)
    emb = cent[labels] * 0.8 + rng.normal(0, 0.35, size=(N_VECS, 64))
    emb = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(N_VECS), pa.int64()),
                "embedding": pa.array(
                    [r.astype(np.float32) for r in emb],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(labels.astype(np.int32), pa.int32()),
            }
        ),
        f"{DST}/embeddings.parquet",
    )
    # 10x events slice for the stateful-streaming family: same schema,
    # same 30-day window and type/user mix, 10x rows — densifies event
    # rate rather than stretching time (what a 10x-traffic product does)
    n_ev = 1_000_000
    ev_rng = np.random.default_rng(SEED + 1)
    base_us = np.int64(1_704_067_200_000_000)  # 2024-01-01 UTC in µs
    span_us = np.int64(30 * 24 * 3600) * 1_000_000
    ts_us = np.sort(
        ev_rng.integers(0, span_us, size=n_ev, dtype=np.int64)
    ) + base_us
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n_ev), pa.int64()),
                "ts": pa.array(ts_us, pa.timestamp("us")),
                "user_id": pa.array(
                    ev_rng.integers(1, 15_001, size=n_ev), pa.int64()
                ),
                "event_type": pa.array(
                    etypes[ev_rng.integers(0, 5, size=n_ev)]
                ),
                "value": pa.array(
                    ev_rng.uniform(0, 100, size=n_ev), pa.float64()
                ),
                "props": pa.array(
                    [
                        '{"k": %d}' % k
                        for k in ev_rng.integers(0, 100, size=n_ev)
                    ]
                ),
            }
        ),
        f"{DST}/events.parquet",
    )
    for t in ("region nation customer supplier part".split()):
        if not os.path.exists(f"{DST}/{t}.parquet"):
            shutil.copy(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
    # 10x facts for the relational/rules tier (§13): replicate
    # lineitem+orders 10x with an orderkey offset per copy — keeps
    # orders⋈lineitem FK-exact while custkey/partkey/suppkey reuse the
    # 1x dimensions (fact rows grow, dimensions don't — the real shape
    # of a 10x-traffic year). Deterministic: offset = next power of 10
    # above max(o_orderkey).
    off = con.execute(
        f"SELECT max(o_orderkey) FROM read_parquet('{SRC}/orders.parquet')"
    ).fetchone()[0]
    offset = 10 ** len(str(off))
    copies = " UNION ALL ".join(
        f"SELECT * REPLACE (o_orderkey + {i * offset} AS o_orderkey) "
        f"FROM read_parquet('{SRC}/orders.parquet')"
        for i in range(10)
    )
    con.execute(f"COPY ({copies}) TO '{DST}/orders.parquet' (FORMAT PARQUET)")
    copies = " UNION ALL ".join(
        f"SELECT * REPLACE (l_orderkey + {i * offset} AS l_orderkey) "
        f"FROM read_parquet('{SRC}/lineitem.parquet')"
        for i in range(10)
    )
    con.execute(
        f"COPY ({copies}) TO '{DST}/lineitem.parquet' (FORMAT PARQUET)"
    )
    print("wrote", DST)


def run(entries: list[str]) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from __spark_entry__ import REGISTRY
    from hiv_data_integration_spark.session import get_spark

    spark = get_spark(app_name="scale-slopes")
    out: dict[str, dict[str, float]] = {}
    for sf_dir, tag in ((SRC, "x1"), (DST, "x10")):
        for name in entries:
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                REGISTRY[name][0](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                samples.append(time.perf_counter() - t0)
            out.setdefault(name, {})[tag] = round(min(samples), 3)
            print(name, tag, out[name][tag], flush=True)
    for name, t in out.items():
        if "x1" in t and "x10" in t and t["x1"] > 0:
            t["slope"] = round(t["x10"] / t["x1"], 1)
    print(json.dumps(out))


def run_linkage10x() -> None:
    """§14 quadratic probe: `record_linkage_fs` at 10x CUSTOMERS.

    The entry's pair count is Ω(Σ block²) BY CONTRACT (every in-block
    pair is scored), so a 10x customer table with the same 25-nation
    block structure must show a ~100x pair count — this probe measures
    whether the WALL cost tracks the contract (codegen'd comparisons,
    no join blowup beyond the contractual output) rather than hiding
    an extra superlinear term. Customers replicate with custkey
    offsets; every other table is the 1x original (the entry reads
    only customer)."""
    import duckdb
    import shutil

    dst = "/tmp/spark_graft_cust10x"
    os.makedirs(dst, exist_ok=True)
    need_gen = not os.path.exists(f"{dst}/customer.parquet")
    if not need_gen:
        import pyarrow.parquet as pq

        need_gen = (
            pq.read_metadata(f"{dst}/customer.parquet").num_rows
            != 10 * pq.read_metadata(f"{SRC}/customer.parquet").num_rows
        )
    if need_gen:
        con = duckdb.connect()
        maxk = con.execute(
            f"SELECT max(c_custkey) FROM read_parquet('{SRC}/customer.parquet')"
        ).fetchone()[0]
        off = 10 ** len(str(maxk))
        con.execute(
            f"""
            COPY (
                SELECT c_custkey + k * {off} AS c_custkey, c_name,
                       c_nationkey, c_acctbal, c_mktsegment
                FROM read_parquet('{SRC}/customer.parquet'),
                     UNNEST(range(0, 10)) t(k)
            ) TO '{dst}/customer.parquet' (FORMAT PARQUET)
            """
        )
        for t in (
            "region nation supplier part orders lineitem events "
            "documents embeddings"
        ).split():
            shutil.copy(f"{SRC}/{t}.parquet", f"{dst}/{t}.parquet")
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from __spark_entry__ import REGISTRY
    from hiv_data_integration_spark.session import get_spark

    spark = get_spark(app_name="scale-slopes-linkage")
    names = ["record_linkage_fs", "record_linkage_fs_capped"]
    out: dict[str, dict[str, float]] = {n: {} for n in names}
    for sf_dir, tag in ((SRC, "x1"), (dst, "x10")):
        for name in names:
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                REGISTRY[name][0](spark, sf_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
            out[name][tag] = round(min(samples), 3)
            print(name, tag, out[name][tag], flush=True)
    for t in out.values():
        t["slope"] = round(t["x10"] / t["x1"], 1)
    print(json.dumps(out))


def _dst_is_fresh() -> bool:
    """True iff the 10x slice is complete AND current-generation.

    A pre-r11 run of this script wrote documents/embeddings but COPIED
    the 1x events.parquet; skipping gen() on documents alone would then
    silently benchmark the streaming entries against unscaled events
    and report flat slopes as if they were sublinear. Validate every
    generated table — events must exist and hold the expected 10x row
    count — and regenerate when stale."""
    for t in ("documents", "embeddings", "events", "lineitem", "orders"):
        if not os.path.exists(f"{DST}/{t}.parquet"):
            return False
    import pyarrow.parquet as pq

    return (
        pq.read_metadata(f"{DST}/events.parquet").num_rows == 1_000_000
        and pq.read_metadata(f"{DST}/documents.parquet").num_rows == N_DOCS
        and pq.read_metadata(f"{DST}/lineitem.parquet").num_rows
        == 10 * pq.read_metadata(f"{SRC}/lineitem.parquet").num_rows
    )


def run_s13_fixtures() -> None:
    """The two fixture-knob measurements the parquet dirs can't drive:
    pipeline A (IST, 154 cols × 86 rules) and the rule engine at PEC
    width (236 cols × the reference's largest rule set) at n_facilities
    700 vs 7000 — the reference's worst-case evaluation shapes."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from hiv_data_integration_spark.benchmarks import (
        ist_scaled_fixture,
        pipeline_a_ist_scaled,
    )
    from hiv_data_integration_spark.operators.rules import apply_rules
    from hiv_data_integration_spark.pipeline.extract import pathology_extract
    from hiv_data_integration_spark.pipeline.pnls import (
        reference_pathology_spec,
    )
    from hiv_data_integration_spark.session import get_spark

    spark = get_spark(app_name="scale-slopes-s13")
    out: dict[str, dict[str, float]] = {}

    def measure(name: str, tag: str, thunk) -> None:
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            thunk().write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        out.setdefault(name, {})[tag] = round(min(samples), 3)
        print(name, tag, out[name][tag], flush=True)

    def pec_rules_frame(n_facilities: int):
        # the reference's WORST evaluation case: 175 rules x 236 cols
        # (R1/constants.py:698-874), extract spine + one compiled
        # rule projection — measures codegen behavior at PEC width
        analytics, coc, de_map, _org_units = ist_scaled_fixture(
            spark, n_facilities=n_facilities, pathology="PEC"
        )
        spec = reference_pathology_spec("PEC", analytics, de_map)
        wide = pathology_extract(
            analytics, coc, de_map, spec.contract_value_cols
        )
        return apply_rules(
            wide, spec.rules, key_cols=["organisation_unit_id", "period"]
        )

    for nfac, tag in ((700, "x1"), (7000, "x10")):
        measure(
            "pipeline_a_ist_scaled",
            tag,
            lambda nf=nfac: pipeline_a_ist_scaled(spark, n_facilities=nf),
        )
        measure(
            "rules_pec_width", tag, lambda nf=nfac: pec_rules_frame(nf)
        )
    for name, t in out.items():
        if t.get("x1"):
            t["slope"] = round(t["x10"] / t["x1"], 1)
    print(json.dumps(out))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    if mode == "gen":
        gen()
    elif mode == "s13fix":
        run_s13_fixtures()
    elif mode == "s14link":
        run_linkage10x()
    else:
        if not _dst_is_fresh():
            gen()
        args = sys.argv[2:]
        if args == ["s12"]:
            args = MULTIMODAL_STREAMING_ENTRIES
        if args == ["s13"]:
            args = RELATIONAL_RULES_ENTRIES
        if args == ["s14"]:
            args = CRAWL_ENTRIES
        run(args or DEFAULT_ENTRIES)
