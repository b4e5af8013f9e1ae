#!/usr/bin/env python3
"""Turn graft.Bench records into SIZING.md — the per-operator 100 TB capacity
sheet.

Measured inputs per op (the `volumes` Bench counts on each query's first
warm-up execution, deterministic per plan+data): scan row count, shuffle-write
bytes/records. Bench records no task-level input BYTES: Spark's per-task
bytesRead is unreliable under local[*] (it reported ~0.2% of a verified
10.8 MB scan), so the compressed-input denominator comes from the lake parquet
files themselves (file size / rows of each op's dominant input table).

Extrapolation model per op: grow the dominant input table to 100 TB compressed
at its measured bytes/row, scale the measured shuffle volume by the same
factor (linearity per family is measured separately — SCALING_r09), and size
`spark.sql.shuffle.partitions` at a 200 MiB per-partition target. With two
scales the stability column shows shuffle-bytes growth vs input-rows growth
across the decade — near 1.0 means the per-row shuffle cost held and the
linear extrapolation is evidence, not hope.

Usage: sizing_report.py SMALL.json SMALL_LAKE [BIG.json BIG_LAKE] [out.md]
  (each .json is a Bench record, e.g. BENCH_LAST.json or its captured stdout)
"""
import json, os, sys

import pyarrow.parquet as pq

TARGET_BYTES = 100e12                    # 100 TB compressed input
PARTITION_TARGET = 200 * 1024 * 1024     # 200 MiB shuffle partition target

# Dominant input table per op — the relation whose growth drives the op's
# shuffle volume (joins' secondary sides are dims or same-table rescans).
DOMINANT = {
    "d01_dedup_exact": "documents", "d02_dedup_fingerprint": "documents",
    "d03_minhash_pairs": "documents", "d04_simhash_pairs": "documents",
    "d05_ngram_jaccard": "documents", "d06_embedding_neardup": "embeddings",
    "d07_dedup_clusters": "documents", "d08_quality_survivors": "documents",
    "d09_cross_decontam": "documents", "d10_dup_spans": "documents",
    "t10_passage_dedup": "documents", "t13_weighted_sample": "documents",
    "s02_ann_lsh": "embeddings", "s03_ann_ivf": "embeddings",
    "s04_ann_pq": "embeddings", "s05_ann_ivfpq": "embeddings",
    "c01_contamination": "documents",
    "o04_interval_overlap": "orders", "o07_interval_pairs": "orders",
    "x01_tfidf": "documents", "x02_kmeans_step": "embeddings",
    "q02_agg_pricing": "lineitem", "q03_join_agg": "lineitem",
    "d11_semdedup": "embeddings", "t15_lm_perplexity": "documents",
    "d05_ngram_jaccard_t08": "documents", "t16_dsir_weights": "documents",
    "t17_dsir_resample": "documents", "t18_unimax_mix": "documents",
    "t19_temperature_mix": "documents", "d12_incremental_dedup": "documents",
    "v02_drift_psi": "documents", "e04_transitions": "events",
    "t20_source_curation": "documents", "x03_random_projection": "embeddings",
    "t21_winnow_fingerprints": "documents", "d13_winnow_overlap": "documents",
    "t22_language_id": "documents",
    "t23_boilerplate": "documents", "i03_fingerprint_index": "documents",
    "c02_crawl_pipeline": "documents", "s06_ann_ivfpq_residual": "embeddings",
    "t24_kn_trigram_lm": "documents", "t25_url_filter": "documents",
    "c03_incremental_crawl": "documents", "c04_crawl_kn_gate": "documents",
}


def table_stats(lake, table):
    path = os.path.join(lake, f"{table}.parquet")
    return os.path.getsize(path), pq.ParquetFile(path).metadata.num_rows


def load(path):
    """The last Bench line in `path`, with its counted volumes as `ops`."""
    line = [l for l in open(path) if '"metric":"total"' in l][-1]
    rec = json.loads(line[line.index('{'):])
    return {"sf": rec["sf"],
            "ops": {op: v for op, v in rec["volumes"].items() if v is not None}}


args = sys.argv[1:]
small, small_lake = load(args[0]), args[1]
big = big_lake = None
rest = args[2:]
if len(rest) >= 2 and rest[0].endswith(".json"):
    big, big_lake = load(rest[0]), rest[1]
    rest = rest[2:]
out_path = rest[0] if rest else "SIZING.md"

base, base_lake = (big, big_lake) if big else (small, small_lake)

lines = [
    "# SIZING — per-operator 100 TB capacity sheet",
    "",
    "Shuffle volume per heavy operator, measured (`graft.Bench` counts each "
    "query's first noop-sink warm-up run with `graft.Counters` — byte volumes "
    "are deterministic per plan + data, unlike wall times), extrapolated to "
    "a 100 TB compressed instance of each op's dominant input table at that "
    "table's measured bytes/row. Linearity of the extrapolation is measured "
    "per family in SCALING_r09.json and SCALING_r10.json. Primary scale: "
    f"`{base['sf']}`.",
    "",
    "| op | table | scan rows | shuffle MB | shuffle rows | B/row "
    "| 100 TB shuffle | partitions @200MiB |"
    + (" growth vs rows |" if big else ""),
    "|---|---|---|---|---|---|---|---|" + ("---|" if big else ""),
]

for op, m in base["ops"].items():
    table = DOMINANT.get(op)
    if table is None:
        continue
    tbytes, trows = table_stats(base_lake, table)
    sb = m["shuffle_write_bytes"]
    scale = TARGET_BYTES / tbytes
    shuffle_100tb = sb * scale
    parts = max(1, int(shuffle_100tb / PARTITION_TARGET))
    per_row = sb / max(1, m["input_rows"])
    row = (f"| {op} | {table} | {m['input_rows']:,} | {sb/1e6:.2f} "
           f"| {m['shuffle_write_records']:,} | {per_row:.1f} "
           f"| {shuffle_100tb/1e12:.2f} TB | {parts:,} |")
    if big:
        sm = small["ops"].get(op)
        if sm:
            _, trows_s = table_stats(small_lake, table)
            rows_growth = trows / max(1, trows_s)
            sh_growth = sb / max(1, sm["shuffle_write_bytes"])
            stab = sh_growth / rows_growth if rows_growth else float("inf")
            row += f" {stab:.2f}x |"
        else:
            row += " — |"
    lines.append(row)

# Per-op explanations for rows whose growth column is far from 1.0 — the
# sheet must say WHY a ratio moved, or the number invites wrong conclusions.
FLAG_NOTES = {
    "t20_source_curation":
        "one wide exchange of pre-combined (source, fingerprint, short-flag) "
        "triples, ~19 B/doc stable across the decade; the S-row stats table "
        "broadcasts back, so the gate itself moves nothing. Budget this op "
        "as one fingerprint-dedup-shaped pass.",
    "x03_random_projection":
        "ZERO shuffle bytes at both scales, by construction and measured: "
        "the +-1 sign matrix compiles to literals and the projection fuses "
        "into the scan as a narrow map (ProjectionSpec pins no-Exchange). "
        "The 100 TB cost is scan + CPU only.",
    "t21_winnow_fingerprints":
        "ZERO shuffle bytes at both scales: selection (grams, hashes, "
        "window argmins, overlap dedup) runs entirely inside per-row "
        "higher-order functions (WinnowingSpec pins no-Exchange). The "
        "100 TB cost is scan + CPU; only downstream consumers shuffle the "
        "~2/(w+1)-dense (id, pos, fp) rows.",
    "d13_winnow_overlap":
        "the fp-keyed index is the winnowed ~2/(w+1) subset of grams (3.2M "
        "rows at sf1, vs d10's every-position exchange), but the PAIR term "
        "grows with duplication density like d05: at sf1, 73.6M DISTINCT "
        "candidate pairs (most share exactly one 16-gram — cross-mutation "
        "collisions) dominate the ~69M rows crossing this exchange; the "
        "volume is the candidate space itself, not an agg inefficiency. "
        "Since r11 the per-fp id sets are BOUNDED aggregates capped at "
        "maxDocFreq+1 (8 KB max buffer at the default 1000; a df >> "
        "maxDocFreq boilerplate fp stops collecting at the cap in every "
        "partial — SCALING d13_hotfp row measures wall x1.20 at x10 docs "
        "with df = corpus size), keeping the expensive winnowing CPU to ONE "
        "corpus pass at r10's exchange volume; a two-pass count-first plan "
        "(constant buffers, ~9% less exchange, 2x the winnow CPU) ships as "
        "the fallback for pathological maxDocFreq > 2^20. Output "
        "bit-identical on both paths (property-pinned). Budget the pair "
        "term from YOUR corpus's dup density, not corpus size.",
    "t22_language_id":
        "the model BROADCASTS as V gram-keyed rows with an L-array "
        "scaled-long payload (since r13 — one training job collects model "
        "+ stats together, and per-gram sums are primitive longs, not "
        "boxed decimals); training is a vocabulary-bounded (lang, gram) "
        "count exchange (Heaps-bounded like t15's model), and scoring's "
        "only corpus-sized exchange is the per-doc reduce — docs rows of "
        "(id, L longs) after map-side combine, no text payload, "
        "L-independent row count. Budget scoring as one fingerprint-dedup-"
        "shaped pass regardless of the language count.",
    "c02_crawl_pipeline":
        "the COMPOSED crawl chain (t23 -> t22 -> t06 -> d02 -> t16/t17 -> "
        "t09) as one plan: document text crosses exactly TWO exchanges "
        "(the language-gate join by id and the dedup min_by aggregation by "
        "fingerprint, map-side combined so duplicate copies collapse "
        "before the wire — CrawlPipelineSpec pin); everything else is the "
        "stages' own narrow/broadcast shapes. Budget ~= t22 scoring + two "
        "text-bearing passes + the DSIR integer-row exchanges; the stages "
        "do NOT add up independently because extraction, quality, "
        "fingerprinting and token counts fuse into the same scans.",
    "s06_ann_ivfpq_residual":
        "s05's exchange shape exactly (codes-only scan, broadcast (query, "
        "cell, tables) side, top-k window as the only corpus exchange); "
        "residuals add one narrow double-subtraction map on the scan side "
        "and Q x nprobe quantized scalars to the broadcast. Budget as s05; "
        "the win is recall per code byte on clustered corpora, not bytes.",
    "t24_kn_trigram_lm":
        "t15's shape one order higher: all model relations are TYPE-"
        "bounded aggregations of the distinct-trigram relation (Heaps-"
        "bounded), the corpus-sized exchanges are the map-side-combined "
        "trigram counts and the per-doc (id, decimal) reduce; no document "
        "text crosses any exchange (spec pin). Trigram type count is the "
        "sizing knob — budget the model join as broadcast while types x "
        "~40 B fit, hash-partitioned both sides beyond.",
    "t25_url_filter":
        "corpus-side shuffle is ZERO by construction and spec pin: parsing "
        "and literal rules compile into the row, the host blocklist is "
        "deduplicated (one BLOCKLIST-bounded exchange — the only shuffle "
        "bytes in this row) and joined broadcast-left-outer while its "
        "cardinality fits the cap; past the cap (FineWeb's 4.6M hosts) the "
        "hint is withheld and both sides hash-partition on host "
        "(output-identical, spec-pinned; SCALING t25_bigbl measures the "
        "fallback). The 100 TB cost below the cap is scan + regex CPU — "
        "the t23/x03 shape.",
    "c03_incremental_crawl":
        "c02's composed shape per batch PLUS the increment mechanics: the "
        "URL gate is narrow + a capped broadcast, history dedup reads the "
        "8 B/doc fingerprint index (never history text — plan-pinned "
        "struct<_fp:bigint>) through bloom + batch-bounded confirm "
        "broadcasts, and the landing sink is one coalesced file + CTL per "
        "batch. Shuffle volume is BATCH-bounded at any history size — the "
        "whole point of the incremental mode; the three-batch replay here "
        "therefore measures ~c02's volume split three ways plus the "
        "8 B/doc index reads.",
    "c04_crawl_kn_gate":
        "c02 plus the t24 KN model relations (TYPE-bounded exchanges) and "
        "a per-doc (id, ppl) reduce that joins at the SAME id key as the "
        "language gate — text still crosses exactly two exchanges "
        "(spec-pinned). Budget = c02 + one t24 pass; the ppl-histogram "
        "cutoff seam is value-bounded (quantized 3-decimal ppls).",
    "t23_boilerplate":
        "ZERO shuffle bytes at both scales: block split, tag strip, anchor "
        "extraction, density rules, and reassembly all run inside per-row "
        "higher-order functions (BoilerplateSpec pins no-Exchange). The "
        "100 TB cost is scan + CPU only — the t14/t21 shape.",
    "i03_fingerprint_index":
        "the dedup side is d12's shape (bloom partials + batch dup mass); "
        "what this row adds is the SCAN story: every history read is the "
        "8 B/doc fingerprint index (plan-pinned struct<_fp:bigint> only), "
        "never the text corpus — at 100 TB the difference between scanning "
        "~10 B/doc of index and ~5 KB/doc of raw text per ingest batch. "
        "Shuffle volume is batch-bounded, not history-bounded.",
    "d03_minhash_pairs":
        "growth >> 1 is a REGIME change, not superlinear work: at sf0.1 AQE "
        "broadcasts the band-bucket join (shuffle ~0.01 MB), at sf1 it "
        "shuffles. The sf1 B/row is the scale-honest figure — band rows are "
        "(band, hash, id) triples, ~15 B per input row.",
    "d04_simhash_pairs":
        "same broadcast-to-shuffle regime change as d03; sf1 B/row (~24) is "
        "the honest basis.",
    "d05_ngram_jaccard":
        "candidate volume is sum(prefix-df^2) over shared shingles — it "
        "grows with duplication DENSITY, not just corpus size (the sf1 lake "
        "plants ~10 mutated copies per doc, so density rose WITH scale "
        "here). At CONSTANT density (gram-disjoint x10 fixture, SCALING_r09 "
        "d08a) pair-gen cost is ~linear. Two caps bound the worst case: "
        "lossless prefix+length filtering (halved this exchange at t=0.4; "
        "quadratically more at production thresholds) and the maxDocFreq "
        "stop-shingle prune. Budget from the sf1 B/row only for corpora "
        "this duplicate-dense.",
    "d07_dedup_clusters":
        "inherits d05's density-driven candidate term (pair gen dominates "
        "its volume); the CC rounds themselves shuffle 8-byte edges only "
        "(SCALING_r09: x1.16 at x10 over pre-materialized pairs).",
    "d08_quality_survivors":
        "same decomposition as d07 — see SCALING_r09 d08a/d08b/d08c for the "
        "per-stage growth.",
    "c01_contamination":
        "eval-side broadcast keeps corpus grams in place; growth ~7.8x "
        "reflects hit-count rows (corpus-x-eval matches grow with density).",
    "q02_agg_pricing":
        "absolute volume is ~30 KB (partial-agg rows only) — the growth "
        "figure is noise at the metric floor.",
    "d05_ngram_jaccard_t08":
        "measurement-only variant of d05 at the production threshold t=0.8: "
        "the lossless prefix filter keeps only |s|-ceil(t*|s|)+1 shingles "
        "per doc indexed, so the candidate exchange drops 6x vs the shipped "
        "t=0.4 row (86.8 vs 522.3 MB at sf1) for near-identical output — "
        "the 'quadratically more saved at real thresholds' scaladoc claim, "
        "measured. Growth vs rows inherits d05's duplication-density note.",
    "t15_lm_perplexity":
        "growth 0.73x < 1 is the vocabulary bound doing its job: the model "
        "exchange grows with DISTINCT bigrams (Heaps' law, sublinear in "
        "corpus), not corpus size — the 'model is vocab-bounded aggregation' "
        "claim, measured across the decade.",
    "t16_dsir_weights":
        "the DSIR model is exactly B=1024 rows at any scale (hashed-bucket "
        "bound, stronger than t15's Heaps bound); the measured volume is the "
        "(id, bucket, count) per-doc relation plus its model rollup, ~linear "
        "at 1.24x with zero text payload crossing any exchange (the sf1 lake "
        "plants duplicate docs, so distinct (id, bucket) pairs per doc rise "
        "slightly with its longer mutated texts).",
    "t17_dsir_resample":
        "t16's weights pipeline plus the Gumbel-top-k draw — which adds ZERO "
        "exchange: the perturbed key is a projection and the global top-k "
        "plans as TakeOrderedAndProject (per-partition heaps, driver merge "
        "of k rows). Measured volume is slightly BELOW t16's because "
        "n_grams is dropped before the final reduce.",
    "t18_unimax_mix":
        "allocation computes on the L-row language histogram (one map-side-"
        "combined agg); the measured volume is the exact draw's per-language "
        "rank window shipping (id, lang) pairs — ~4 B/row, linear. The "
        "histogram itself is the sub-KB residue.",
    "t19_temperature_mix":
        "SHUFFLE-FREE by construction and measured so: ~1 KB total exchange "
        "at BOTH scales (the L-row histogram aggregates; 13-14 records). The "
        "content-keyed hash-threshold draw is a scan-level filter — the "
        "corpus never moves, at any scale.",
    "d12_incremental_dedup":
        "history is never shuffled: measured volume is bloom-filter partials "
        "plus the confirmed-fingerprint set (grows with the batch's TRUE dup "
        "mass, not history size). The naive anti-join this replaces would "
        "shuffle the entire history fingerprint relation every batch.",
    "v02_drift_psi":
        "scale-INVARIANT by the model bound: ~1.4 KB total exchange at BOTH "
        "scales (26 records — the two B-row bin-histogram partials plus "
        "broadcast totals). The corpus never moves; growth column is the "
        "metric floor, not a trend.",
    "e04_transitions":
        "the one entity-key window exchange ships (user, ts, type, tie) "
        "rows — ~10-18 B/row compressed; the per-row DROP across the decade "
        "is shuffle compression improving on the larger sorted runs, not "
        "sublinear work. Pair counts and totals are K^2/K-row residue.",
    "d11_semdedup":
        "volume is id/cluster-keyed rows only at this scale: AQE broadcasts "
        "the within-cluster self-join's pair side, so no quantized vector "
        "crosses the measured fabric. In the scale regime (broadcast off) "
        "the vectors cross exactly ONCE — both self-join sides read the "
        "same cluster-keyed exchange (ReusedExchange, PlanSpec-pinned), "
        "~vector-payload x1 like d03/d04's regime change; hot clusters fan "
        "out over salted blocks (SCALING_r10 d11_hot rows measure that "
        "shape).",
}

flagged = [op for op in base["ops"] if op in FLAG_NOTES and op in DOMINANT]
if flagged:
    lines += ["", "Flagged rows:"]
    lines += [f"- **{op}** — {FLAG_NOTES[op]}" for op in flagged]

lines += [
    "",
    "Reading the sheet:",
    "- `B/row` = shuffle-write bytes per scanned input row. Single-digit "
    "values mean only hash-led keys cross the fabric (text/vector payloads "
    "stay put); values near the table's own bytes/row mean one full "
    "repartition of the payload — the honest floor for row-matched fetches; "
    "larger values are explode amplification (shingle/band rows), acceptable "
    "only because the amplified rows are narrow, which `shuffle rows` makes "
    "checkable.",
    "- `100 TB shuffle` scales the measured volume to a 100 TB compressed "
    "dominant table. `partitions @200MiB` is what that volume needs at a "
    "200 MiB per-reducer target; a real deployment sets "
    "`spark.sql.shuffle.partitions` near the largest row it runs and lets "
    "AQE coalesce the rest.",
    "- `growth vs rows` (when two scales are measured): shuffle-bytes growth "
    "divided by input-rows growth across the decade. ~1.0 = per-row shuffle "
    "cost held, the linear extrapolation is evidence; >1 flags superlinear "
    "candidate growth; <1 means dedup/combine collapses more at scale.",
    "- Small-scale plans broadcast what a 100 TB plan must shuffle; ops whose "
    "dims outgrow the broadcast threshold move toward the `ratio`-1-repartition "
    "regime. The stability column across the measured decade is the guard.",
]

open(out_path, "w").write("\n".join(lines) + "\n")
print(f"wrote {out_path} ({sum(1 for op in base['ops'] if op in DOMINANT)} ops)")
