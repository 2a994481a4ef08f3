#!/usr/bin/env python3
"""Cross-engine robustness check on a NON-ASCII corpus.

The harness documents are pure ASCII, which can mask Spark-vs-DuckDB
divergence on multi-byte text (delimiter `°`, accented keeps, codepoint
checksums, fingerprints). This builds a tiny Unicode corpus, runs
graft.Verify on it, and oracle-compares the text-family queries.
"""
import subprocess, sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]
ROOT = REPO / "target" / "unicode_sf"
OUT = REPO / "target" / "unicode_verify_out"

TEXT_QUERIES = [
    "q_tokenize", "q_wordcount", "q_distinct", "q_encode", "q_topk",
    "q_filter_nonempty", "q_fingerprint", "q_token_count", "q_quality",
    "q_lang_id", "q_multimodal_decode", "q_dedup_exact", "q_dedup_minhash",
    "q_dedup_minhash_verified", "q_dedup_simhash", "q_dedup_ngram",
    "q_scan_text", "q_dedup_apply", "q_pipeline_prep", "q_tfidf",
    "q_fuzzy_match", "q_sink_text_roundtrip", "q_sql_frontend",
    "q_lang_ngram",
    "q_encode_exact", "q_topk_per_reducer", "q_scrub_pii",
    "q_pack_sequences", "q_dedup_components", "q_char_entropy",
    "q_lm_score", "q_contamination",
    # round-5 second-wave text family: bigram adjacency, PMI marginals,
    # hashed features, prefix-filter shingles, nested token arrays
    "q_ngram_topk", "q_pmi", "q_feature_hash", "q_prefix_join",
    "q_sink_nested_roundtrip",
    # wave-3: codepoint length + space-split TTR gates on multi-byte text
    "q_filter_funnel",
]

DOCS = [
    "café straße naïve °degree split°here the a of and",
    "élan über señor 北京 emoji🙂mix the quick brown fox",
    "plain ascii words only the end",
    "MIXED Case WÖRDS und ÉTÉ the la le de",
    "tabs\there:and;commas,apostrophe'split 123 456 é ß",
    "café straße naïve °degree split°here the a of and",  # exact dup of doc 0
    # repeated bigram so PMI has a ≥5-count pair on the tiny corpus
    "the quick the quick the quick the quick the quick brown",
    # long near-dup pair (differs only in the final word) so the
    # prefix-filter join has a Jaccard ≥ 0.8 candidate after rep collapse
    "das lange gemeinsame präfix über café straße naïve dokument mit "
    "vielen wörtern und ein paar unterschieden ganz am ende läuft weiter",
    "das lange gemeinsame präfix über café straße naïve dokument mit "
    "vielen wörtern und ein paar unterschieden ganz am ende läuft anders",
    # the tokenizer's non-ASCII path: a leading delimiter, delimiter runs,
    # a digits-only token (dropped), and tokens kept only because İ
    # (U+0130) and the Kelvin sign (U+212A) lowercase into [`-z]
    "°°x° İstanbul \u212a 2024 \u212a°İ",
]


def main():
    ROOT.mkdir(parents=True, exist_ok=True)
    docs = pa.table({
        "doc_id": pa.array(range(len(DOCS)), pa.int64()),
        "text": pa.array(DOCS, pa.string()),
        "lang": pa.array(["fr", "de", "en", "de", "en", "fr", "en", "de", "de",
                          "tr"], pa.string()),
        "source": pa.array(["s0"] * len(DOCS), pa.string()),
        "n_chars": pa.array([len(t) for t in DOCS], pa.int64()),
    })
    pq.write_table(docs, ROOT / "documents.parquet")
    emb = pa.table({
        "vec_id": pa.array(range(len(DOCS)), pa.int64()),
        "embedding": pa.array([[0.1 * (i + 1)] * 8 for i in range(len(DOCS))],
                              pa.list_(pa.float32())),
        "label": pa.array([i % 2 for i in range(len(DOCS))], pa.int32()),
    })
    pq.write_table(emb, ROOT / "embeddings.parquet")

    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify {ROOT} {OUT}"],
        cwd=REPO, capture_output=True, text=True)
    if r.returncode != 0:
        print("VERIFY FAILED"); print(r.stderr[-2000:]); sys.exit(1)

    import json
    oracle = json.loads((OUT / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{ROOT}/documents.parquet')")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{ROOT}/embeddings.parquet')")

    n_pass = n_fail = 0
    for name in TEXT_QUERIES:
        res = OUT / name
        if not res.exists():
            print(f"[MISS] {name}"); n_fail += 1; continue
        try:
            s = con.execute(f"SELECT * FROM read_parquet('{res}/*.parquet')").df()
            d = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"[ERR ] {name}: {e}"); n_fail += 1; continue
        sc = sorted(s.columns)
        s, d = s[sc].sort_values(sc, kind="mergesort").reset_index(drop=True), \
               d[sc].sort_values(sc, kind="mergesort").reset_index(drop=True)
        if len(s) != len(d) or not s.equals(d):
            print(f"[FAIL] {name}: spark={len(s)} duck={len(d)} rows")
            if len(s) == len(d):
                diff = (s != d) & ~(s.isna() & d.isna())
                print(s[diff.any(axis=1)].head(3))
                print(d[diff.any(axis=1)].head(3))
            n_fail += 1
        else:
            print(f"[ok  ] {name}: {len(s)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
