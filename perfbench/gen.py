"""Seeded input generator for every benchmark phase.

Everything the program under test sees is made here from one seed:
the base tables (events/customer/orders/lineitem/... with the same
schemas as the pipeline's parquet inputs), the API request stream,
the sync landing batches and the document batches of the dedup
stream. The same seed gives byte-identical inputs.

Knobs (see ``Knobs``): Zipf exponent of point-lookup ids, the share of
deep offset pages, how many old day partitions back-dated sync
corrections spread over, and the share of near-copies in document
batches.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2024, 1, 1)
EPOCH_US = int(EPOCH.replace(tzinfo=timezone.utc).timestamp()) * 1_000_000
N_DAYS = 30
EVENT_TYPES = np.array(["run", "ride", "swim", "walk", "hike"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = np.array(["en", "de", "fr", "es", "zh"])
WORDS = np.array(
    (
        "spark stream batch table column query join sort hash window key "
        "value filter scan group agg order line part data vector index "
        "shard token corpus merge upsert cursor page cache commit snapshot "
        "fast slow small big river trail climb pace split lap tempo sprint"
    ).split()
)


@dataclass(frozen=True)
class Knobs:
    zipf_s: float  # point-lookup id skew; 0 = uniform
    deep_share: float  # share of offset pages that are deep
    backdate_days: int  # old day partitions back-dated corrections hit
    near_copy_share: float  # share of a doc batch that copies earlier docs


@dataclass(frozen=True)
class Sizes:
    sf: float
    sync_batches: int
    sync_rows: int  # rows per landed sync batch
    doc_batches: int
    docs_per_batch: int
    rounds: int  # API request rounds generated (one warms up; at least three are timed)

    @property
    def events(self) -> int:
        return max(int(1_000_000 * self.sf), 200)


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input family, so a knob that changes one
    # family's draws never shifts another family's inputs
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _ts_us(micros: np.ndarray, utc: bool = False) -> pa.Array:
    return pa.array(micros + EPOCH_US, pa.timestamp("us", tz="UTC" if utc else None))


# -- base tables -----------------------------------------------------------
def make_events(seed: int, n: int) -> dict[str, np.ndarray]:
    r = _rng(seed, "events")
    n_users = max(n // 66, 10)
    # ts strictly increasing with event_id, ties allowed at µs grain
    span = N_DAYS * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype(np.int64),
        "user_id": r.integers(0, n_users, n).astype(np.int64),
        "event_type": EVENT_TYPES[r.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(r.uniform(0.5, 200.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    }


def events_table(ev: dict[str, np.ndarray], utc: bool = False) -> pa.Table:
    cols = {
        "event_id": pa.array(ev["event_id"]),
        "ts": _ts_us(ev["ts"], utc),
        "user_id": pa.array(ev["user_id"]),
        "event_type": pa.array(ev["event_type"]),
        "value": pa.array(ev["value"]),
    }
    if "props" in ev:
        cols["props"] = pa.array(ev["props"])
    return pa.table(cols)


def write_base(seed: int, sf: float, out: str, events: dict[str, np.ndarray]) -> None:
    """Write the pipeline's ten tables at scale ``sf`` into ``out``."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, "tpch")
    n_cust = max(int(150_000 * sf), 50)
    n_ord = n_cust * 10
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 20)
    _write(events_table(events), f"{out}/events.parquet")
    _write(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            }
        ),
        f"{out}/region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        f"{out}/nation.parquet",
    )
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(np.round(r.uniform(-999, 9999, n_cust), 2)),
                "c_mktsegment": pa.array(SEGMENTS[r.integers(0, 5, n_cust)]),
            }
        ),
        f"{out}/customer.parquet",
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(np.round(r.uniform(-999, 9999, n_supp), 2)),
            }
        ),
        f"{out}/supplier.parquet",
    )
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pa.array([f"part {i}" for i in range(n_part)]),
                "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 56, n_part)]),
                "p_type": pa.array(np.array(["STANDARD", "PROMO", "ECONOMY"])[r.integers(0, 3, n_part)]),
                "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(np.round(r.uniform(900, 2100, n_part), 2)),
            }
        ),
        f"{out}/part.parquet",
    )
    day0 = np.datetime64("1995-01-01")
    odate = day0 + r.integers(0, 2404, n_ord).astype("timedelta64[D]")
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
                "o_totalprice": pa.array(np.round(r.uniform(900, 500_000, n_ord), 2)),
                "o_orderdate": pa.array(odate.astype("datetime64[us]")),
                "o_orderpriority": pa.array(PRIORITIES[r.integers(0, 5, n_ord)]),
            }
        ),
        f"{out}/orders.parquet",
    )
    lines = r.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(lok)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    # whole-unit prices put every discounted line price on whole cents, so
    # a rounded revenue sum never sits on a half cent, where the order of
    # a floating-point sum would decide which way it rounds
    ship = np.repeat(odate, lines) + r.integers(1, 122, n_li).astype("timedelta64[D]")
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(lok),
                "l_partkey": pa.array(r.integers(0, n_part, n_li).astype(np.int64)),
                "l_suppkey": pa.array(r.integers(0, n_supp, n_li).astype(np.int64)),
                "l_linenumber": pa.array(lnum),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(qty * r.integers(900, 2101, n_li)),
                "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
                "l_shipdate": pa.array(ship.astype("datetime64[us]")),
            }
        ),
        f"{out}/lineitem.parquet",
    )
    docs = make_doc_batches(seed, 1, 50, 0.0)[0]
    _write(
        pa.table(
            {
                "doc_id": pa.array(docs["doc_id"]),
                "text": pa.array(docs["text"]),
                "lang": pa.array(LANGS[np.arange(len(docs["doc_id"])) % 5]),
                "source": pa.array([f"src{i % 20}" for i in range(len(docs["doc_id"]))]),
                "n_chars": pa.array(np.array([len(t) for t in docs["text"]], dtype=np.int64)),
            }
        ),
        f"{out}/documents.parquet",
    )
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(20, dtype=np.int64)),
                "embedding": pa.array(
                    [list(v) for v in r.normal(size=(20, 8)).astype(np.float32)],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array((np.arange(20) % 4).astype(np.int32)),
            }
        ),
        f"{out}/embeddings.parquet",
    )


# -- API request stream ----------------------------------------------------
OPS = ("get_activity", "list_offset", "list_deep", "list_keyset", "user_lookup", "sync_window")
LIST_PER_ROUND = 3


def round_ops(deep_share: float) -> list[str]:
    """One round of the closed loop: 10 valid requests, every endpoint at
    least once, plus one presenting a bad credential. Fixed counts keep
    every run's mix identical; only the arguments and order vary. The
    counts are an assumption (see perfbench/README.md)."""
    deep = int(round(LIST_PER_ROUND * deep_share))
    return (
        ["get_activity"] * 2
        + ["list_offset"] * (LIST_PER_ROUND - deep)
        + ["list_deep"] * deep
        + ["list_keyset"] * 2
        + ["user_lookup"] * 2
        + ["sync_window"]
        + ["bad"]
    )


def make_requests(
    seed: int, events: dict[str, np.ndarray], n_users: int, rounds: int, knobs: Knobs
) -> list[list[dict]]:
    """The client's request rounds: op kind, arguments and the credential
    to present (an API key or JWT slot, or one of three bad forms)."""
    r = _rng(seed, "requests")
    n_ev = len(events["event_id"])
    # Zipf over a seeded permutation of ids: rank k has weight k^-s
    perm = r.permutation(n_ev)
    w = np.arange(1, n_ev + 1, dtype=np.float64) ** -knobs.zipf_s
    w /= w.sum()
    # listing order is (ts DESC, event_id DESC); position p of it is the
    # row a client last saw before asking for the next page
    order = np.lexsort((-events["event_id"], -events["ts"]))
    # deep pages start within 5% of the middle row: a page's cost grows
    # with its offset, so a narrow band keeps the seed from setting it
    deep_lo, deep_hi = int(n_ev * 0.45), int(n_ev * 0.55)
    out = []
    for _ in range(rounds):
        ops = round_ops(knobs.deep_share)
        reqs = []
        # one lookup by username, one by athlete id
        lookup_by = iter(("username", "athlete_id"))
        for op in (ops[i] for i in r.permutation(len(ops))):
            if op == "get_activity":
                req = {"id": int(perm[r.choice(n_ev, p=w)])}
            elif op == "list_offset":
                req = {"offset": int(r.integers(0, 200)), "limit": 20}
            elif op == "list_deep":
                req = {"offset": int(r.integers(deep_lo, deep_hi)), "limit": 20}
            elif op == "list_keyset":
                p = order[int(r.integers(0, n_ev - 21))]
                req = {"cursor_us": EPOCH_US + int(events["ts"][p]), "cursor_id": int(events["event_id"][p]), "limit": 20}
            elif op == "user_lookup":
                req = {"by": next(lookup_by), "user_id": int(r.integers(0, n_users))}
            elif op == "sync_window":
                req = {"days": 1}
            else:  # a valid request presenting a bad credential
                op = OPS[int(r.integers(0, len(OPS)))]
                req = {"id": 0, "offset": 0, "limit": 20, "cursor_us": EPOCH_US, "cursor_id": 0,
                       "by": "username", "user_id": 0, "days": 1, "bad_form": int(r.integers(0, 3))}
            req["op"] = op
            req["cred"] = "bad" if "bad_form" in req else ("jwt" if r.random() < 0.5 else "api_key")
            req["slot"] = int(r.integers(0, 8))
            reqs.append(req)
        out.append(reqs)
    return out


# -- sync landing batches ---------------------------------------------------
def make_sync_batches(
    seed: int, events: dict[str, np.ndarray], n_batches: int, rows: int, knobs: Knobs
) -> list[dict[str, np.ndarray]]:
    """Each batch: ~70% new activities on a day of their own after the
    base's last day, ~25% corrections of activities on the base's last
    two days, ~5% back-dated corrections spread evenly over
    ``knobs.backdate_days`` old days. A correction keeps its event's ts
    (so its day partition) and changes type and value. Every batch so
    touches the same number of day partitions whatever the seed: one
    new, two recent and ``backdate_days`` old ones (fewer old ones when
    a batch has fewer back-dated rows than that)."""
    r = _rng(seed, "sync")
    day_us = 86_400 * 1_000_000
    next_id = int(events["event_id"].max()) + 1
    n_users = int(events["user_id"].max()) + 1
    by_day = events["ts"] // day_us
    last_day = int(by_day.max())
    recent = np.flatnonzero(by_day >= last_day - 1)
    n_old = max(knobs.backdate_days, 1)
    old_days = r.choice(np.arange(0, max(last_day - 2, 1)), size=n_old, replace=False)
    out = []
    used: set[int] = set()
    for b in range(n_batches):
        n_new = int(rows * 0.7)
        n_back = max(int(rows * 0.05), 1)
        n_fix = rows - n_new - n_back
        new_ts = (last_day + 1 + b) * day_us + np.sort(r.integers(0, day_us, n_new))
        fix_pool = np.setdiff1d(recent, np.fromiter(used, np.int64, len(used)))
        fix = r.choice(fix_pool, size=n_fix, replace=False)
        per_day = np.full(n_old, n_back // n_old) + (np.arange(n_old) < n_back % n_old)
        back = np.concatenate(
            [r.choice(np.flatnonzero(by_day == d), size=k, replace=False) for d, k in zip(old_days, per_day)]
        )
        # a key is corrected at most once per batch, so batch order alone
        # decides latest-wins between batches
        used.update(int(x) for x in fix)
        src = np.concatenate([fix, back])
        batch = {
            "event_id": np.concatenate([np.arange(next_id, next_id + n_new), events["event_id"][src]]).astype(np.int64),
            "ts": np.concatenate([new_ts, events["ts"][src]]).astype(np.int64),
            "user_id": np.concatenate([r.integers(0, n_users, n_new), events["user_id"][src]]).astype(np.int64),
            "event_type": EVENT_TYPES[r.integers(0, len(EVENT_TYPES), n_new + len(src))],
            "value": np.round(r.uniform(0.5, 200.0, n_new + len(src)) + 1000.0 * (b + 1), 2),
        }
        next_id += n_new
        out.append(batch)
    return out


# -- document batches --------------------------------------------------------
def _text(r: np.random.Generator) -> list[str]:
    return list(WORDS[r.integers(0, len(WORDS), int(r.integers(25, 60)))])


def make_doc_batches(
    seed: int, n_batches: int, per_batch: int, near_copy_share: float
) -> list[dict]:
    """Batch k holds doc ids ≡ k (mod 4), the batch split of the
    registry's 4-level dedup_index_audit replay. A ``near_copy_share`` of
    each batch after the first copies a doc of an earlier batch with one
    or two words replaced — close enough to clear a 0.75 MinHash Jaccard
    estimate. ``planted`` lists the near-copy ids of each batch."""
    if n_batches > 4:
        raise ValueError("at most 4 document batches")
    r = _rng(seed, "docs")
    out: list[dict] = []
    pool: list[list[str]] = []
    for k in range(n_batches):
        ids = np.arange(per_batch, dtype=np.int64) * 4 + k + 40_000
        n_copy = int(per_batch * near_copy_share) if k else 0
        copy_slots = set(r.choice(per_batch, size=n_copy, replace=False).tolist()) if n_copy else set()
        texts, planted = [], []
        for j in range(per_batch):
            if j in copy_slots:
                words = list(pool[int(r.integers(0, len(pool)))])
                for _ in range(int(r.integers(1, 3))):
                    words[int(r.integers(0, len(words)))] = str(WORDS[int(r.integers(0, len(WORDS)))])
                planted.append(int(ids[j]))
            else:
                words = _text(r)
            texts.append(" ".join(words))
        pool.extend(t.split(" ") for t, i in zip(texts, ids) if int(i) not in planted)
        out.append({"doc_id": ids, "text": texts, "planted": planted})
    return out
