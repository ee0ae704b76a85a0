"""Registry contract: every query runs at sf0.001 with a stable schema;
oracle coverage is declared for all SQL-expressible ops."""

from __future__ import annotations

import pytest

from strava_data_pipeline_spark.plans import registry


@pytest.fixture(scope="module")
def queries():
    return registry.all_queries()


def test_inventory_complete(queries):
    expected = {
        "ingest_upsert", "activity_by_id", "recent_activities", "activities_page",
        "sync_window", "sync_daily_counts", "api_key_validate", "keys_per_user",
        "user_activity_join", "athlete_weekly_summary", "athlete_type_stats",
        "json_flatten", "q1_pricing_summary", "q3_shipping_priority",
        "q5_local_supplier", "top_customers_by_revenue", "order_priority_count",
        "parts_brand_stats", "events_sessionize", "events_running_total",
        "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard",
        "dedup_embedding", "ann_topk", "ann_lsh", "lang_id", "text_quality",
        "token_count", "doc_fingerprint", "multimodal_meta",
    }
    assert expected <= set(queries)


def test_every_query_has_oracle(queries):
    # since r5 even the sketch queries carry oracles: their registry
    # artifacts emit exact anchor columns + an in-tolerance flag, so
    # every registered query is full-hash driver-checkable
    oracles = registry.all_oracles()
    assert set(oracles) == set(queries)


@pytest.mark.parametrize("name", sorted(registry.all_queries()))
def test_query_runs(spark, sf_dir, name, queries):
    df = queries[name](spark, sf_dir)
    assert df.columns, f"{name} has no columns"
    assert df.count() >= 0


def test_key_lifecycle_semantics(spark, sf_dir, queries):
    # planted-fixture contract: deactivated keys (user id ending 4)
    # survive with is_active=false — so validation rejects them;
    # deleted keys (id ending 5) are gone; created keys (id ending 3)
    # coexist with the user's original key.
    rows = queries["key_lifecycle"](spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"] % 10, []).append(r)
    assert all(not r["is_active"] for r in by_user[4])
    assert 5 not in by_user, "deleted keys must be tombstoned out"
    n_with_new_key = len(by_user[3])
    n_baseline = len(by_user[1])
    assert n_with_new_key == 2 * n_baseline, "create batch adds a second key"


def test_user_upsert_semantics(spark, sf_dir, queries):
    rows = {r["id"]: r for r in queries["user_upsert"](spark, sf_dir).collect()}
    assert rows[7]["username"].endswith("_renamed")
    assert not rows[8]["username"].endswith("_renamed")
    assert 1000100 in rows and rows[1000100]["username"] == "new_user_100"


def test_corpus_pack_bins_property(spark, sf_dir, queries):
    # every (shard, bin)'s token sum stays under budget + the max doc
    # length (start-offset binning: only the straddling doc overflows),
    # and bins are contiguous from 0 within each shard
    rows = queries["corpus_pack_bins"](spark, sf_dir).collect()
    budget = 2048
    max_doc = max(r["n_tokens"] for r in rows)
    sums: dict[tuple, int] = {}
    shard_bins: dict[int, set] = {}
    for r in rows:
        sums[(r["shard"], r["bin"])] = sums.get((r["shard"], r["bin"]), 0) + r["n_tokens"]
        shard_bins.setdefault(r["shard"], set()).add(r["bin"])
    assert all(s <= budget + max_doc for s in sums.values())
    for bins in shard_bins.values():
        assert bins == set(range(len(bins)))


def test_embedding_quantize_roundtrip(spark, sf_dir, queries):
    rows = queries["embedding_quantize"](spark, sf_dir).collect()
    for r in rows[:50]:
        q = [int(x) for x in r["q"].split(",")]  # canonical CSV form
        assert max(abs(v) for v in q) == 127  # max-abs maps to ±127
        assert all(-127 <= v <= 127 for v in q)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_bench_emit_writes_loss_proof_file(tmp_path, monkeypatch, capsys):
    # the stdout JSON line is the driver contract; the file copy must
    # hold the identical payload so a clipped stdout tail loses nothing
    import json

    import bench

    target = tmp_path / "bench_out.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_FILE", str(target))
    payload = {"metric": "headline_queries_total", "value": 1.5,
               "unit": "sec", "queries": {"q1_pricing_summary": 1.5}, "sf": 0.1}
    bench.emit(payload)
    printed = json.loads(capsys.readouterr().out.strip())
    on_disk = json.loads(target.read_text())
    assert printed == on_disk == payload
