"""Generate SCALING.md: measured wall-clock across sf0.001/0.01/0.1 for
representative queries of each operator family.

The point of the artifact: show HOW each family's cost grows as data
grows 10× and 100× on the same 32-thread local session.  A ratio near
the data ratio means the operator is data-bound (the plan scales); a
ratio near 1 means the cost is fixed overhead (scheduling + scan floor)
that a real cluster amortizes.  Super-linear growth is the red flag the
probe exists to catch (none expected — no quadratic shapes registered).

Usage: python tools/scaling_probe.py [--out SCALING.md]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

PROBES = [
    ("tpch_q1_pricing_summary", "scan + decimal hash agg"),
    ("tpch_q3_shipping_priority", "3-way broadcast join + agg"),
    ("w18_disaggregation", "calendar window + broadcast join"),
    ("ts_anomaly_zscore", "pre-agg + bounded global window"),
    ("m20_holt_smoothing", "grouped applyInPandas recursion"),
    ("dedup_minhash_lsh", "tokenize + sketch + bucket join"),
    ("dedup_connected_components", "iterative label propagation"),
    ("text_lm_familiarity", "corpus count tables + 2 hash joins"),
    ("sim_topk_bruteforce", "O(Q·N) scoring baseline"),
    ("pipeline_corpus_prep", "dedup→quality→sample→chunk composition"),
    ("scale_zorder_layout", "row-local bit algebra + 4096-key agg"),
    ("graph_pagerank", "10-round power iteration"),
    ("pipeline_pack_sequences", "two-pass distributed prefix sum"),
    ("pipeline_dsir_weights", "hashed-bigram DSIR scoring + broadcast ratio join"),
    ("pipeline_fim_transform", "row-local FIM/PSM re-serialization, zero shuffles"),
    ("dedup_winnow", "row-local winnow select + capped pair join"),
    ("sim_knn_graph", "banded-LSH candidates + per-src top-k"),
    ("w_funnel_conversion", "staged conditional-min user joins"),
    ("sketch_cms_heavyhitters", "sketch-sized shuffle + broadcast probe"),
    ("dedup_semantic", "bucket-local cosine dominance anti-join"),
    ("sim_topk_numpy", "blocked matmul join (query table)"),
    ("dedup_source_overlap", "shingle-keyed source-pair join"),
    ("dedup_prefix_filter_join", "prefix-filtered exact Jaccard join"),
    ("pipeline_epoch_shuffle", "two-pass rank over hash order"),
    ("pipeline_source_cap", "window top-k, map-side partial group limit"),
    ("sim_sq8_topk", "uint8 quantize + asymmetric rescore"),
    ("a_basket_pairs", "basket collapse + row-local pair explode"),
    ("w_markov_transitions", "per-user lag window + matrix agg"),
    ("w_kaplan_meier", "funnel joins + day-keyed life table"),
    ("m26_holt_winters", "grouped triple-exponential recursion"),
    ("m27_croston", "event-driven grouped recursion"),
    ("a_gini_concentration", "lazy rank + decimal38 moments"),
    ("a_item_item_cf", "pair explode + broadcast scoring + topk"),
    ("graph_personalized_pagerank", "seed-teleport power iteration"),
    ("m7_stl_robust", "2-round reweighted window decomposition"),
    ("m7_mstl", "two-phase multi-seasonal window decomposition"),
    ("m29_theta_forecast", "exact OLS + grouped SES recursion"),
    ("graph_assortativity", "edge self-join + degree joins + 1 agg"),
    ("text_watermark_detect", "row-local bigram-hash HOF pass"),
    ("pipeline_span_corruption", "row-local span-mask string HOF"),
    ("w_time_weighted_avg", "type-partitioned lead window + agg"),
    ("graph_link_prediction", "wedge-join candidates + degree joins"),
    ("mm_audio_rms", "payload-local window moments (mapInPandas)"),
    ("graph_label_propagation", "4-round sync LPA join+argmax"),
    ("mm_phash_dedup", "decode+resize kernel + signature groupBy"),
    ("m32_isotonic_calibration", "bounded B^2 interval windows"),
    ("w_interval_merge", "per-user running-max island windows"),
    ("ts_theil_sen", "calendar-bounded O(days^2) pair join"),
    ("pipeline_split_leakage", "banded candidates + split-tag joins"),
    ("w_lifecycle_states", "per-user lag/lead week windows"),
    ("pipeline_unigram_candidates", "row-local substring explode + topV"),
    ("pipeline_temperature_mixture", "2 corpus passes + source-scalar algebra"),
    ("pipeline_lm_buckets", "LM count tables + scalar percentile cuts"),
    ("pipeline_ul2_mix", "row-local HOF mask accounting, zero shuffles"),
    ("text_gopher_rules", "one-scan HOF panel + scalar unpivot"),
    # r9: the un-exempted in-plan fit family + new pipeline ops
    ("w_markov_attribution", "1-row matrix agg + in-plan absorption fold"),
    ("ts_changepoint", "1-row sorted-array agg + big-int argmax UDF"),
    ("m6_silhouette", "k-row stats broadcast + per-point HOF fold"),
    ("m3_pca_eval", "Gram partials + 1-part eigh + broadcast project"),
    ("emb_whitening_eval", "two moment passes fused with whitening UDF"),
    ("text_tokenizer_fertility", "one scan + langid bucket agg"),
    ("pipeline_pack_ffd", "per-shard FFD applyInPandas + bin agg"),
    # r10 late wave
    ("emb_jl_projection", "row-local 16x64 sign folds, zero shuffles"),
    ("sim_multiprobe_lsh", "corpus signature + query-side probe fan-out"),
    ("sim_jl_rerank_topk", "16-dim scan pool cut + bounded exact rerank"),
    ("text_token_entropy", "sorted-array run-length fold, zero shuffles"),
    ("text_zipf_slope", "count agg + distributed top-k + 1-row OLS"),
    ("text_source_divergence", "(source,token) agg reused for all totals"),
    ("ts_periodogram", "calendar daily agg + 4-row period grid"),
]


SF1_DIR = os.path.join(REPO, ".stage", "sf1")
SF1_JSON = os.path.join(REPO, ".stage", "sf1_probe.json")

# Queries whose ×(0.1/0.01) ratio was ≥2.5 in round 4 — the round-4
# verdict (item 6) asked for a SECOND decade to settle whether the
# documented output-bound / linear-term explanations hold.
SF1_PROBES = ["dedup_semantic", "dedup_prefix_filter_join", "a_basket_pairs",
              "m27_croston",
              # round-5 fourth wave: the new iterative-graph entry and
              # the decode-bound multimodal signature pass
              "graph_label_propagation", "mm_phash_dedup"]


def _gen_sf1() -> None:
    """Generate an in-family sf1 decade under .stage/sf1 (idempotent).

    The driver testdata cannot be regenerated (read-only), so the
    decade is synthesized FROM sf0.1 following the same family rules
    the driver's generator exhibits across sf0.001→0.1:

    * lineitem — 10 replicas with per-replica orderkey AND partkey
      offsets (order count, part count, and per-part basket frequency
      all scale exactly like the driver's own decades);
    * documents — 50k fresh docs, token lengths and unigram
      frequencies sampled from the sf0.1 empirical distributions (the
      31-word vocabulary is a corpus property and stays fixed, which
      is precisely what makes the qualifying-pair count quadratic);
    * embeddings — 50k vectors: a random sf0.1 base vector of the same
      label + N(0, 0.05) noise (cluster structure preserved, density
      ×10);
    * events — 10 replicas with per-replica user_id AND event_id
      offsets (the driver's own decades scale rows ×10 and users ×10
      with a FIXED one-month span: 1k/15 → 10k/150 → 100k/1500), so
      per-user series stay in-family and the time axis densifies;
    * orders — 10 replicas with the SAME o_orderkey offsets as the
      lineitem replicas (joins stay consistent across the decade).
    Seeded; skipped when the directory already exists."""
    import os

    if all(
        os.path.exists(os.path.join(SF1_DIR, f))
        for f in ("_DONE", "events.parquet", "orders.parquet")
    ):
        return
    os.makedirs(SF1_DIR, exist_ok=True)
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.1"
    rng = np.random.default_rng(1)

    li = pq.read_table(f"{src}/lineitem.parquet")
    n_orders, n_parts = 150000, 20000
    reps = []
    for r in range(10):
        t = li
        ok = pa.compute.add(t["l_orderkey"], r * n_orders)
        pk = pa.compute.add(t["l_partkey"], r * n_parts)
        t = t.set_column(t.schema.get_field_index("l_orderkey"), "l_orderkey", ok)
        t = t.set_column(t.schema.get_field_index("l_partkey"), "l_partkey", pk)
        reps.append(t)
    pq.write_table(pa.concat_tables(reps), f"{SF1_DIR}/lineitem.parquet")

    docs = pq.read_table(f"{src}/documents.parquet").to_pydict()
    toks = [t.split() for t in docs["text"]]
    vocab, counts = np.unique(
        np.concatenate([np.array(t) for t in toks]), return_counts=True
    )
    probs = counts / counts.sum()
    lens = np.array([len(t) for t in toks])
    n_docs = 50000
    out_len = rng.choice(lens, size=n_docs)
    texts = [
        " ".join(rng.choice(vocab, size=int(L), p=probs)) for L in out_len
    ]
    langs = rng.choice(np.array(docs["lang"]), size=n_docs)
    sources = rng.choice(np.array(docs["source"]), size=n_docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), type=pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array([str(x) for x in langs]),
                "source": pa.array([str(x) for x in sources]),
                "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
            }
        ),
        f"{SF1_DIR}/documents.parquet",
    )

    emb = pq.read_table(f"{src}/embeddings.parquet")
    ed = emb.to_pydict()
    base_vecs = np.asarray(ed["embedding"], dtype=np.float64)
    labels = np.asarray(ed["label"])
    n_vec = 50000
    pick = rng.integers(0, len(base_vecs), size=n_vec)
    vecs = base_vecs[pick] + rng.normal(0, 0.05, size=(n_vec, base_vecs.shape[1]))
    emb_field = emb.schema.field("embedding")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vec), type=emb.schema.field("vec_id").type),
                "label": pa.array(
                    labels[pick].tolist(), type=emb.schema.field("label").type
                ),
                "embedding": pa.array(
                    [list(v) for v in vecs], type=emb_field.type
                ),
            }
        ),
        f"{SF1_DIR}/embeddings.parquet",
    )
    orders = pq.read_table(f"{src}/orders.parquet")
    o_reps = []
    for r in range(10):
        t = orders
        ok = pa.compute.add(t["o_orderkey"], r * n_orders)
        t = t.set_column(t.schema.get_field_index("o_orderkey"), "o_orderkey", ok)
        o_reps.append(t)
    pq.write_table(pa.concat_tables(o_reps), f"{SF1_DIR}/orders.parquet")

    ev = pq.read_table(f"{src}/events.parquet")
    n_users, n_events = 1500, len(ev)
    ev_reps = []
    for r in range(10):
        t = ev
        eid = pa.compute.add(t["event_id"], r * n_events)
        uid = pa.compute.add(t["user_id"], r * n_users)
        t = t.set_column(t.schema.get_field_index("event_id"), "event_id", eid)
        t = t.set_column(t.schema.get_field_index("user_id"), "user_id", uid)
        ev_reps.append(t)
    pq.write_table(pa.concat_tables(ev_reps), f"{SF1_DIR}/events.parquet")

    open(os.path.join(SF1_DIR, "_DONE"), "w").write("ok\n")


SF10EMB_DIR = os.path.join(REPO, ".stage", "sf10emb")
SF10EMB_JSON = os.path.join(REPO, "SCALE_PROBE_sf10.json")

# The r7 verdict's named scale ceiling, answered with a measurement
# (r8 item 5): the three adversarial embedding shapes at a FIFTH
# decade — 500k clustered vectors, 10x the synthesized sf1 — where the
# old two-rung banding's fixed 512-bucket ceiling would be ~100x the
# sf1 pair work (N²/256).  Count-derived bits (b=11 at 500k) plus the
# COS_BUCKET_CAP backstop must keep the decade ratio flat-to-linear.
SF10EMB_PROBES = ["dedup_embedding_cosine", "sim_knn_graph", "dedup_semantic"]


def _gen_sf10emb() -> None:
    """500k-vector embeddings decade under .stage/sf10emb (idempotent):
    same family rule as _gen_sf1 — a random sf0.1 base vector of the
    same label + N(0, 0.05) noise, cluster structure preserved, density
    ×100.  Only embeddings.parquet: the three probes touch no other
    table."""
    import os

    if os.path.exists(os.path.join(SF10EMB_DIR, "_DONE")):
        return
    os.makedirs(SF10EMB_DIR, exist_ok=True)
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.1"
    rng = np.random.default_rng(10)
    emb = pq.read_table(f"{src}/embeddings.parquet")
    ed = emb.to_pydict()
    base_vecs = np.asarray(ed["embedding"], dtype=np.float64)
    labels = np.asarray(ed["label"])
    n_vec = 500_000
    pick = rng.integers(0, len(base_vecs), size=n_vec)
    vecs = base_vecs[pick] + rng.normal(0, 0.05, size=(n_vec, base_vecs.shape[1]))
    emb_field = emb.schema.field("embedding")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(
                    range(n_vec), type=emb.schema.field("vec_id").type
                ),
                "label": pa.array(
                    labels[pick].tolist(), type=emb.schema.field("label").type
                ),
                "embedding": pa.array([list(v) for v in vecs], type=emb_field.type),
            }
        ),
        f"{SF10EMB_DIR}/embeddings.parquet",
    )
    open(os.path.join(SF10EMB_DIR, "_DONE"), "w").write("ok\n")


SF10LI_DIR = os.path.join(REPO, ".stage", "sf10li")
SF10LI_JSON = os.path.join(REPO, "SCALE_PROBE_sf10_basket.json")

# Round-9 verdict item 4: the basket/CF family is the largest sf1
# block (7-8.5s each) with the steepest sf0.1 last-decade ratios among
# shuffle-bearing queries (2.4-2.7x) and no sf10 evidence.  Probe the
# 6M -> 60M lineitem decade: replica partkey offsets keep per-part
# basket frequency constant, so pair support distribution — and with
# it the chunk-split expansion — must scale linearly, not by pair
# space.
SF10LI_PROBES = ["a_basket_pairs", "a_basket_triples", "a_item_item_cf"]


def _gen_sf10li() -> None:
    """60M-row lineitem decade under .stage/sf10li (idempotent): the
    EXACT _gen_sf1 family rule at 100 replicas of sf0.1 — per-replica
    l_orderkey offsets (100x orders) and l_partkey offsets (100x
    parts, per-part basket frequency invariant).  Only
    lineitem.parquet: the three basket probes read nothing else.
    Streamed one replica per row group through ParquetWriter so the
    60M-row table never sits whole in memory."""
    import os

    if os.path.exists(os.path.join(SF10LI_DIR, "_DONE")):
        return
    os.makedirs(SF10LI_DIR, exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.1"
    li = pq.read_table(f"{src}/lineitem.parquet")
    n_orders, n_parts = 150000, 20000
    with pq.ParquetWriter(
        f"{SF10LI_DIR}/lineitem.parquet", li.schema
    ) as w:
        for r in range(100):
            t = li
            ok = pa.compute.add(t["l_orderkey"], r * n_orders)
            pk = pa.compute.add(t["l_partkey"], r * n_parts)
            t = t.set_column(
                t.schema.get_field_index("l_orderkey"), "l_orderkey", ok
            )
            t = t.set_column(
                t.schema.get_field_index("l_partkey"), "l_partkey", pk
            )
            w.write_table(t)
    open(os.path.join(SF10LI_DIR, "_DONE"), "w").write("ok\n")


def run_sf10li(qs) -> None:
    """Measure the basket/CF family at sf1 (6M lineitem) AND the
    synthesized 60M decade; persist medians + samples + loadavg to the
    committed SF10LI_JSON."""
    import json
    import os

    _gen_sf1()
    _gen_sf10li()
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPS", "2"))
    results: dict = {"reps": reps, "rows_sf1": 6_000_000, "rows_sf10": 60_000_000}
    for name in SF10LI_PROBES:
        entry: dict = {}
        for tag, sf in (("sf1", SF1_DIR), ("sf10", SF10LI_DIR)):
            samples = []
            for _ in range(reps):
                t0 = time.time()
                qs[name](spark_holder[0], sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                samples.append(round(time.time() - t0, 2))
            entry[tag] = {
                "median": sorted(samples)[len(samples) // 2],
                "samples": samples,
                "loadavg": round(os.getloadavg()[0], 1),
            }
        entry["decade_ratio"] = round(
            entry["sf10"]["median"] / max(entry["sf1"]["median"], 1e-9), 2
        )
        results[name] = entry
        print(
            f"sf10 basket probe {name}: {entry['sf1']['median']:.2f}s -> "
            f"{entry['sf10']['median']:.2f}s ({entry['decade_ratio']:.1f}x for 10x)"
        )
    with open(SF10LI_JSON, "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {SF10LI_JSON}")


def run_sf10emb(qs) -> None:
    """Measure the three adversarial embedding shapes at sf1 (50k) AND
    the synthesized 500k decade; persist medians + samples + loadavg to
    the committed SF10EMB_JSON."""
    import json
    import os

    _gen_sf1()
    _gen_sf10emb()
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPS", "2"))
    results: dict = {"reps": reps, "n_sf1": 50_000, "n_sf10": 500_000}
    for name in SF10EMB_PROBES:
        entry: dict = {}
        for tag, sf in (("sf1", SF1_DIR), ("sf10", SF10EMB_DIR)):
            samples = []
            for _ in range(reps):
                t0 = time.time()
                qs[name](spark_holder[0], sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                samples.append(round(time.time() - t0, 2))
            entry[tag] = {
                "median": sorted(samples)[len(samples) // 2],
                "samples": samples,
                "loadavg": round(os.getloadavg()[0], 1),
            }
        entry["decade_ratio"] = round(
            entry["sf10"]["median"] / max(entry["sf1"]["median"], 1e-9), 2
        )
        results[name] = entry
        print(
            f"sf10 probe {name}: {entry['sf1']['median']:.2f}s -> "
            f"{entry['sf10']['median']:.2f}s ({entry['decade_ratio']:.1f}x for 10x)"
        )
    with open(SF10EMB_JSON, "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {SF10EMB_JSON}")


SF10GRAPH_DIR = os.path.join(REPO, ".stage", "sf10graph")
SF1GRAPH_DIR = os.path.join(REPO, ".stage", "sf1graph")
SF10DOCS_DIR = os.path.join(REPO, ".stage", "sf10docs")
SF10GRAPH_JSON = os.path.join(REPO, "SCALE_PROBE_sf10_graph.json")

# Round-9 verdict item 4: the graph family (pagerank / k-core / label
# propagation) and dedup_connected_components are the slowest
# driver-bench queries with no evidence past sf0.1.  Probe each at a
# true decade:
#
# * graph_* read lineitem only.  k-core/LPA derive co-purchase edges
#   (l_orderkey, l_partkey — the sf10li offsets already replicate them
#   structurally); pagerank derives part<->supplier edges, so the graph
#   decade tables offset l_suppkey AS WELL (1000 suppliers/replica) —
#   each replica is a structurally identical subgraph, nodes and edges
#   exactly x10/x100, the clean linearity null hypothesis.
# * dedup_connected_components reads documents: the sf10 rung re-runs
#   _gen_sf1's unigram family rule at 500k docs (x10 sf1).
SF10GRAPH_PROBES = ["graph_pagerank", "graph_kcore", "graph_label_propagation"]
SF10DOCS_PROBES = ["dedup_connected_components"]


def _gen_li_graph(out_dir: str, replicas: int) -> None:
    """lineitem-only decade with ALL THREE key families offset per
    replica (orderkey, partkey, suppkey) — streamed one replica per
    row group so the big table never sits whole in memory."""
    import os

    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return
    os.makedirs(out_dir, exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    li = pq.read_table("/root/testdata/sf0.1/lineitem.parquet")
    n_orders, n_parts, n_supp = 150000, 20000, 1000
    with pq.ParquetWriter(f"{out_dir}/lineitem.parquet", li.schema) as w:
        for r in range(replicas):
            t = li
            for col, off in (
                ("l_orderkey", r * n_orders),
                ("l_partkey", r * n_parts),
                ("l_suppkey", r * n_supp),
            ):
                t = t.set_column(
                    t.schema.get_field_index(col),
                    col,
                    pa.compute.add(t[col], off),
                )
            w.write_table(t)
    open(os.path.join(out_dir, "_DONE"), "w").write("ok\n")


def _gen_sf10docs() -> None:
    """500k-document decade under .stage/sf10docs (idempotent):
    10 replicas of the synthesized sf1 documents with doc_id offsets
    and a per-replica TOKEN REMAP (every token suffixed r<k>), so the
    shingle universes of different replicas are disjoint — the LSH
    component structure of sf1 replicates exactly x10 (sizes x10,
    diameters invariant).  A fresh unigram draw at 500k was tried
    first and rejected: collision DENSITY grows with N under a shared
    vocabulary, so components deepen and the probe would measure a
    harder graph, not a bigger one (it blew the 12-round CC cap)."""
    import os

    if os.path.exists(os.path.join(SF10DOCS_DIR, "_DONE")):
        return
    os.makedirs(SF10DOCS_DIR, exist_ok=True)
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    _gen_sf1()
    docs = pq.read_table(f"{SF1_DIR}/documents.parquet").to_pydict()
    n = len(docs["doc_id"])
    ids, texts, langs, sources, nchars = [], [], [], [], []
    for r in range(10):
        suf = f"r{r}"
        for i in range(n):
            ids.append(r * n + i)
            t = " ".join(w + suf for w in docs["text"][i].split())
            texts.append(t)
            langs.append(docs["lang"][i])
            sources.append(docs["source"][i])
            nchars.append(len(t))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, type=pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(langs),
                "source": pa.array(sources),
                "n_chars": pa.array(nchars, type=pa.int64()),
            }
        ),
        f"{SF10DOCS_DIR}/documents.parquet",
    )
    open(os.path.join(SF10DOCS_DIR, "_DONE"), "w").write("ok\n")


ZIPF_DIR = os.path.join(REPO, ".stage", "zipfdocs")
ZIPF_JSON = os.path.join(REPO, "SCALE_PROBE_zipf.json")


def _gen_zipfdocs() -> None:
    """Zipfian-vocabulary documents fixture (r9 verdict item 2): same
    row count and length distribution as the synthesized sf1 documents
    (50k docs), but tokens drawn from a 50k-type vocabulary with Zipf
    s = 1.1 rank weights — the realistic text shape whose
    qualifying-pair density SCALING.md asserts collapses vs the
    small-shared-vocabulary synthetic corpus.  Deterministic seed."""
    import os

    if os.path.exists(os.path.join(ZIPF_DIR, "_DONE")):
        return
    os.makedirs(ZIPF_DIR, exist_ok=True)
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(42)
    docs = pq.read_table("/root/testdata/sf0.1/documents.parquet").to_pydict()
    lens = np.array([len(t.split()) for t in docs["text"]])
    n_docs, vsize, s_exp = 50000, 50000, 1.1
    ranks = np.arange(1, vsize + 1, dtype=np.float64)
    probs = ranks ** (-s_exp)
    probs /= probs.sum()
    vocab = np.array([f"w{i}" for i in range(vsize)])
    out_len = rng.choice(lens, size=n_docs)
    texts = [
        " ".join(rng.choice(vocab, size=int(L), p=probs)) for L in out_len
    ]
    langs = rng.choice(np.array(docs["lang"]), size=n_docs)
    sources = rng.choice(np.array(docs["source"]), size=n_docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), type=pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array([str(x) for x in langs]),
                "source": pa.array([str(x) for x in sources]),
                "n_chars": pa.array(
                    [len(t) for t in texts], type=pa.int64()
                ),
            }
        ),
        f"{ZIPF_DIR}/documents.parquet",
    )
    open(os.path.join(ZIPF_DIR, "_DONE"), "w").write("ok\n")


def run_zipf(qs) -> None:
    """Measure dedup_prefix_filter_join on the sf1 unigram corpus vs
    the same-size Zipf-vocabulary corpus: wall clock AND qualifying
    pair count (the output the join is quadratic IN).  Turns the
    SCALING.md density assertion into a committed measurement."""
    import json
    import os

    _gen_sf1()
    _gen_zipfdocs()
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPS", "2"))
    results: dict = {"reps": reps, "n_docs": 50000,
                     "zipf": {"vocab": 50000, "s": 1.1}}
    for tag, sf in (("sf1_unigram", SF1_DIR), ("zipf", ZIPF_DIR)):
        entry: dict = {}
        samples = []
        for _ in range(reps):
            t0 = time.time()
            qs["dedup_prefix_filter_join"](spark_holder[0], sf).write.format(
                "noop"
            ).mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        entry["samples"] = samples
        entry["median"] = sorted(samples)[len(samples) // 2]
        entry["qualifying_pairs"] = qs["dedup_prefix_filter_join"](
            spark_holder[0], sf
        ).count()
        results[tag] = entry
        print(
            f"zipf probe [{tag}]: median {entry['median']:.2f}s, "
            f"{entry['qualifying_pairs']} qualifying pairs"
        )
    results["loadavg"] = os.getloadavg()[0]
    with open(ZIPF_JSON, "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {ZIPF_JSON}")


def run_sf10graph(qs) -> None:
    """Measure the graph family at the 6M (x10) and 60M (x100) lineitem
    decades with all key families offset, and connected components at
    the 50k -> 500k documents decade; persist medians + samples +
    loadavg to the committed SF10GRAPH_JSON."""
    import json
    import os

    _gen_li_graph(SF1GRAPH_DIR, 10)
    _gen_li_graph(SF10GRAPH_DIR, 100)
    _gen_sf1()
    _gen_sf10docs()
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPS", "2"))
    results: dict = {"reps": reps}
    for name in SF10GRAPH_PROBES:
        entry: dict = {}
        for tag, sf in (("sf1", SF1GRAPH_DIR), ("sf10", SF10GRAPH_DIR)):
            samples = []
            for _ in range(reps):
                t0 = time.time()
                qs[name](spark_holder[0], sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                samples.append(round(time.time() - t0, 3))
            entry[tag] = {
                "samples": samples,
                "median": sorted(samples)[len(samples) // 2],
            }
        entry["decade_ratio"] = round(
            entry["sf10"]["median"] / max(entry["sf1"]["median"], 1e-9), 2
        )
        results[name] = entry
        print(
            f"sf10 graph probe {name}: {entry['sf1']['median']:.2f}s -> "
            f"{entry['sf10']['median']:.2f}s ({entry['decade_ratio']:.1f}x for 10x)"
        )
    with open(SF10GRAPH_JSON, "w") as f:
        json.dump(results, f, indent=1)  # partial: survives a docs-probe crash
    for name in SF10DOCS_PROBES:
        entry = {}
        for tag, sf in (("sf1", SF1_DIR), ("sf10", SF10DOCS_DIR)):
            samples = []
            for _ in range(reps):
                t0 = time.time()
                qs[name](spark_holder[0], sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                samples.append(round(time.time() - t0, 3))
            entry[tag] = {
                "samples": samples,
                "median": sorted(samples)[len(samples) // 2],
            }
        entry["decade_ratio"] = round(
            entry["sf10"]["median"] / max(entry["sf1"]["median"], 1e-9), 2
        )
        results[name] = entry
        print(
            f"sf10 docs probe {name}: {entry['sf1']['median']:.2f}s -> "
            f"{entry['sf10']['median']:.2f}s ({entry['decade_ratio']:.1f}x for 10x)"
        )
    results["loadavg"] = os.getloadavg()[0]
    with open(SF10GRAPH_JSON, "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {SF10GRAPH_JSON}")


def run_sf1(qs) -> None:
    """Measure the flagged queries at sf0.1 AND the synthesized sf1;
    persist to SF1_JSON (the SCALING.md generation below folds the
    cached numbers in, so the expensive decade runs on demand, not in
    every round-end regenerate)."""
    import json

    _gen_sf1()
    results = {}
    for name in SF1_PROBES:
        ts = []
        for sf in ("/root/testdata/sf0.1", SF1_DIR):
            t0 = time.time()
            qs[name](spark_holder[0], sf).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(time.time() - t0)
        results[name] = {"sf0.1": ts[0], "sf1": ts[1], "ratio": ts[1] / ts[0]}
        print(f"sf1 probe {name}: {ts[0]:.2f}s -> {ts[1]:.2f}s ({ts[1]/ts[0]:.1f}x)")
    with open(SF1_JSON, "w") as f:
        json.dump(results, f, indent=1)


spark_holder: list = []


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(REPO, "SCALING.md"))
    ap.add_argument(
        "--sf1",
        action="store_true",
        help="also run the synthesized-sf1 decade for the flagged rows",
    )
    ap.add_argument(
        "--sf10",
        action="store_true",
        help="ONLY run the 500k-vector embedding decade for the three "
        "adversarial shapes and write SCALE_PROBE_sf10.json",
    )
    ap.add_argument(
        "--sf10-basket",
        action="store_true",
        help="ONLY run the 60M-lineitem decade for the basket/CF family "
        "and write SCALE_PROBE_sf10_basket.json",
    )
    ap.add_argument(
        "--zipf",
        action="store_true",
        help="ONLY run the Zipf-vocabulary PPJoin density probe and "
        "write SCALE_PROBE_zipf.json",
    )
    ap.add_argument(
        "--sf10-graph",
        action="store_true",
        help="ONLY run the graph-family lineitem decades (suppkey "
        "offset too) + the 500k-documents connected-components decade "
        "and write SCALE_PROBE_sf10_graph.json",
    )
    args = ap.parse_args()

    from energy_consumption_forecasting_spark import get_spark
    from energy_consumption_forecasting_spark.queries import load_all

    spark = get_spark("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs, _ = load_all()
    spark_holder.append(spark)
    if args.sf10:
        run_sf10emb(qs)
        return
    if args.sf10_basket:
        run_sf10li(qs)
        return
    if args.sf10_graph:
        run_sf10graph(qs)
        return
    if args.zipf:
        run_zipf(qs)
        return
    if args.sf1:
        run_sf1(qs)

    # warm codegen/JIT on the smallest SF
    for name, _d in PROBES:
        qs[name](spark, SFS[0]).write.format("noop").mode("overwrite").save()

    rows = []
    for name, desc in PROBES:
        times = []
        for sf in SFS:
            t0 = time.time()
            qs[name](spark, sf).write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        r_mid = times[1] / times[0] if times[0] else float("nan")
        r_top = times[2] / times[1] if times[1] else float("nan")
        rows.append((name, desc, times, r_mid, r_top))
        print(f"{name}: " + " ".join(f"{t:.2f}s" for t in times))

    lines = [
        "# SCALING — measured growth across sf0.001 / sf0.01 / sf0.1",
        "",
        "Generated by tools/scaling_probe.py (warm session, noop sink).",
        "Data grows 10× per step.  `×(0.01/0.001)` and `×(0.1/0.01)` are",
        "wall-clock ratios: ≈1 ⇒ fixed scheduling/scan floor dominates",
        "(amortized on a real cluster), ≈10 ⇒ data-bound linear scaling,",
        "≫10 ⇒ super-linear red flag (none expected).",
        "",
        "| query | family | sf0.001 | sf0.01 | sf0.1 | ×(0.01/0.001) | ×(0.1/0.01) |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, desc, t, r1, r2 in rows:
        lines.append(
            f"| `{name}` | {desc} | {t[0]:.2f}s | {t[1]:.2f}s | {t[2]:.2f}s "
            f"| {r1:.1f}× | {r2:.1f}× |"
        )
    lines += [
        "",
        "## Notes on above-linear rows",
        "",
        "- `dedup_prefix_filter_join` is OUTPUT-bound on this synthetic",
        "  corpus: documents share a small vocabulary, so the number of",
        "  pairs genuinely at Jaccard ≥ 0.6 grows near-quadratically",
        "  (~792k qualifying pairs at sf0.1 from 1.7k docs — the ANSWER",
        "  is quadratic, so any exact join must be).  The prefix+length",
        "  filters still prune losslessly (oracle-proven); MEASURED r10",
        "  (SCALE_PROBE_zipf.json, tools/scaling_probe.py --zipf): on a",
        "  same-size 50k-doc corpus with a 50k-type Zipf(s=1.1)",
        "  vocabulary the join finds 0 qualifying pairs in 4.8s, vs",
        "  79.2M pairs in 49.8s on the shared-vocabulary unigram sf1",
        "  corpus — the sf1 wall is output density, not plan shape.",
        "  Its sf1 wall (the gate's",
        "  dominator) was attributed by the committed two-build A/B",
        "  (BENCH_r08_ab.json): full token STRINGS were shuffling",
        "  through the candidate join; carrying rarity-sorted token IDS",
        "  (int array, same vocabulary rank frame) through the explode +",
        "  array_intersect verify cut the sf1 median ~60s → 42s",
        "  (BENCH_r09_sf1) with identical pair output.  The remaining",
        "  cost is the output-quadratic verify itself.",
        "- `graph_pagerank` edges derive from lineitem, which grows 10×",
        "  on the last step — a ~2.4× wall ratio on 10× data is",
        "  sub-linear (fixed 10-iteration job floor amortizing).",
        "- Graph-family TRUE decades (SCALE_PROBE_sf10_graph.json,",
        "  tools/scaling_probe.py --sf10-graph; all three key families",
        "  offset so each replica is a structurally identical subgraph):",
        "  warm medians x10 data → k-core 0.9×, label propagation 1.3×,",
        "  connected components 2.2× (50k → 500k docs), pagerank 17.9×.",
        "  The pagerank slope is a DESIGNED regime crossing, not a leak:",
        "  at 210k nodes the per-round plan is broadcast-join →",
        "  row-local fold → one agg shuffle; at 2.1M nodes the rank",
        "  table passes the 64 MB broadcast budget and the loop switches",
        "  to the sort-merge tier over the deg-folded edge table",
        "  pre-partitioned on the join key (operators/pagerank.py::",
        "  prepare_rank_graph) — the per-round cost becomes the edge",
        "  sort-merge + agg, which is the shape that keeps scaling when",
        "  ranks are billions of rows and broadcasting is impossible.",
        "  The 500k-doc CC decade also surfaced that MAX_CC_ROUNDS=12",
        "  conflated deep graphs with runaway loops (a near-critical",
        "  457k-edge/500k-node LSH graph exceeded 2^12 label reach);",
        "  the backstop is now 30 rounds (~10^9 diameter reach) with",
        "  the label-sum probe still exiting real dup graphs in single",
        "  digits.",
        "- sf10 probe REFRESH at r10 HEAD (post bucket-local pair",
        "  kernel, SCALE_PROBE_sf10.json re-measured, 3 reps): cosine",
        "  10.6× on 10× data (sf10 ABSOLUTE wall 86→14 s vs the",
        "  pre-kernel probe), knn 6.9× (sf10 291→152 s), semantic",
        "  7.3× — all linear-or-better.  The knn/semantic sf1",
        "  numerators include a shared-frame REBUILD (the sf10 builds",
        "  evict the sf1 persisted frames inside the probe session —",
        "  the one-time-build caveat below); warm steady state is the",
        "  bench gate (sim_knn_graph 2.6-2.8 s at sf1).  Basket decades",
        "  (SCALE_PROBE_sf10_basket.json, pipelined pair-expansion):",
        "  pairs 2.2×, triples 8.6×, item-item CF 4.8×.",
        "- Rows riding a session-shared persisted frame (the cosine",
        "  signature, SemDeDup scored, MinHash signature, and graph edge",
        "  frames) pay that frame's ONE-TIME build inside their single",
        "  measured execution at each SF — the probe measures each query",
        "  once per SF, so the build cannot amortize here the way it does",
        "  across a session (or a production pipeline, where the frame is",
        "  computed once and persisted to storage).  BENCH_r09_local /",
        "  BENCH_r09_sf1 (median of 3 round-robin reps) show the warm",
        "  steady state.",
    ]
    import json
    import os

    if os.path.exists(SF1_JSON):
        sf1 = json.load(open(SF1_JSON))
        lines += [
            "",
            "## sf1 probe (synthesized fourth decade)",
            "",
            "Generated with `python tools/scaling_probe.py --sf1`: an",
            "in-family sf1 decade synthesized from sf0.1 (see",
            "`tools/scaling_probe.py::_gen_sf1` for the family rules) for",
            "the rows whose ×(0.1/0.01) ratio was ≥2.5 in round 4 — a",
            "second decade to separate output-bound/linear growth from a",
            "plan defect.",
            "",
            "| query | sf0.1 | sf1 | ×(1/0.1) | reading |",
            "|---|---|---|---|---|",
        ]
        readings = {
            "dedup_semantic": (
                "LINEAR, the designed N·target bound: warm-vs-warm a "
                "quiet-host re-measure is ~10× on 10× vectors (r7: "
                "1.0s→10.3s); the smaller cold ratio in this table is "
                "fixed overhead inflating the sf0.1 cold sample, not "
                "sub-linear pair work.  No quadratic residue — the r4 "
                "corpus-sized-cells rework holds"
            ),
            "dedup_prefix_filter_join": (
                "output-bound: wall tracks the ~100× quadratic growth "
                "of genuinely-qualifying pairs on the fixed 31-word "
                "vocabulary (r7 gate: 44s median at sf1, "
                "BENCH_r07_sf1.json) — the ANSWER is quadratic; "
                "prefix+length pruning is intact (oracle-proven "
                "lossless) and wall stays SUB-output-linear"
            ),
            "a_basket_pairs": (
                "scheduling/scan-floor dominated (1.5× on 10×): pair "
                "work is linear in baskets; r4's 2.6× step was floor "
                "amortization, not super-linearity"
            ),
            "m27_croston": (
                "series-bound, at-or-below linear: the partition-fit "
                "mapInPandas amortizes per-group overhead"
            ),
            "graph_label_propagation": (
                "SUB-linear (warm r7 gate: 1.9s→3.0s on 10× edges): "
                "per-round cost is one "
                "edge-keyed join + argmax agg, so the decade is "
                "shuffle-bandwidth-bound; local wall stays "
                "scheduling-floor-dominated like pagerank"
            ),
            "mm_phash_dedup": (
                "decode-bound, below-linear wall (≈4.5× on 10× docs): "
                "the Arrow mapInPandas decode is linear in payload "
                "bytes and parallelizes across batches; the signature "
                "groupBy is key-cardinality work"
            ),
        }
        for name in SF1_PROBES:
            r = sf1.get(name)
            if r:
                lines.append(
                    f"| `{name}` | {r['sf0.1']:.2f}s | {r['sf1']:.2f}s "
                    f"| {r['ratio']:.1f}× | {readings.get(name, '')} |"
                )
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
