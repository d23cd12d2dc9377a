"""Seeded input generator for the benchmark.

Everything the engine sees is written here from ``numpy`` draws keyed by the
run's ``--seed``; the same seed gives byte-identical inputs.  Three kinds of
input exist:

* message files (the ``events`` shape: typed headers + a JSON ``props``
  column) for ``verdict_drain`` and ``subscription_fanout``;
* 32 subscription selectors for ``subscription_fanout``;
* the five fixture tables the ``analytics_mix`` queries read, at the sf0.1
  row counts of the repository's fixtures.

Message properties carry four keys (``k``, ``tier``, ``region``, ``score``).
``MISSING_K_SHARE`` of the rows omit ``k`` and ``NON_NUMERIC_K_SHARE`` carry
``"k": "n/a"``, so numeric predicates on ``k`` evaluate to UNKNOWN on about
7% of the rows and the JMS three-valued-logic paths run.  ``user_id`` is
Zipf-skewed (a=1.3), as broker traffic keyed by tenant is.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MISSING_K_SHARE = 0.04
NON_NUMERIC_K_SHARE = 0.03
N_USERS = 1500
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
TIERS = np.array(["gold", "silver", "bronze"])
REGIONS = np.array(["eu", "us", "apac"])
_EPOCH_2024_US = 1_704_067_200_000_000
_MONTH_US = 30 * 86_400 * 1_000_000

#: sf0.1 row counts of the repository's fixtures (TESTDATA.md).
SF01_ROWS = {
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
}


def _props(rng: np.random.Generator, n: int) -> pa.Array:
    k = pa.array(rng.integers(0, 100, n).astype(str))
    tier = pa.array(TIERS[rng.integers(0, len(TIERS), n)])
    region = pa.array(REGIONS[rng.integers(0, len(REGIONS), n)])
    score = pa.array(np.round(rng.random(n), 3).astype(str))
    kind = rng.random(n)
    k_part = pc.if_else(
        pa.array(kind < MISSING_K_SHARE),
        "",
        pc.if_else(
            pa.array(kind < MISSING_K_SHARE + NON_NUMERIC_K_SHARE),
            '"k": "n/a", ',
            pc.binary_join_element_wise('"k": ', k, ", ", ""),
        ),
    )
    return pc.binary_join_element_wise(
        "{", k_part, '"tier": "', tier, '", "region": "', region,
        '", "score": ', score, "}", "",
    )


def messages(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    """``n`` messages in the ``events`` schema, ids from ``first_id``,
    timestamps ascending within the month after 2024-01-01 (UTC, naive µs,
    the fixture's physical type)."""
    ts = _EPOCH_2024_US + np.sort(rng.integers(0, _MONTH_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array((rng.zipf(1.3, n) - 1) % N_USERS, pa.int64()),
            "event_type": pa.array(
                EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)], pa.string()
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
            "props": _props(rng, n),
        }
    )


def write_backlog(seed: int, out_dir: str, n_files: int, rows_per_file: int) -> list[str]:
    """A topic backlog: ``n_files`` message files with consecutive ids, named
    so the file source lists them in id order."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f in range(n_files):
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(messages(rng, rows_per_file, f * rows_per_file), path)
        paths.append(path)
    return paths


# Templates for the fan-out subscriptions.  Together they cover typed
# headers, props keys (explicit and bare), IN, LIKE, BETWEEN, REGEXP,
# arithmetic, IS [NOT] NULL and ${param} binding.  The seed draws each
# constant from a narrow band, so every seed's subscriptions select about
# the same share of messages and cost about the same to evaluate: the
# benchmark compares runs across seeds, and a threshold that changed how
# often a conjunction short-circuits would change the work done.
_SUBSCRIPTION_TEMPLATES = (
    ("props.k > {a} AND event_type IN ('purchase', 'error')", None),
    ("value BETWEEN {a} AND {a} + {b}", None),
    ("props.tier LIKE 'g%' AND props.k < {a}", None),
    ("region = 'eu' OR props.score > 0.{b}", None),
    ("props.k IS NULL", None),
    ("k * 2 + 1 > {a} AND tier <> 'bronze'", None),
    ("event_type REGEXP '^(click|view)$' AND user_id % 3 = {m}", None),
    ("props.k BETWEEN ${{lo}} AND ${{hi}}", "range"),
    ("user_id < {a} OR value * 1.5 >= {b}0", None),
    ("props.region IN ('us', 'apac') AND NOT props.tier = 'gold'", None),
    ("event_type = ${{kind}} AND props.k IS NOT NULL", "kind"),
    ("props.score * 100 - k BETWEEN -{b} AND {b}", None),
)


def subscriptions(seed: int, n: int = 32) -> dict[str, tuple[str, dict | None]]:
    """``n`` seeded subscriptions: name -> (selector text, ``${}`` params)."""
    rng = np.random.default_rng([seed, 2])
    subs = {}
    for i in range(n):
        template, param_kind = _SUBSCRIPTION_TEMPLATES[i % len(_SUBSCRIPTION_TEMPLATES)]
        a, b = int(rng.integers(45, 56)), int(rng.integers(4, 7))
        text = template.format(a=a, b=b, m=int(rng.integers(0, 3)))
        params = None
        if param_kind == "range":
            params = {"lo": a - 20, "hi": a}
        elif param_kind == "kind":
            params = {"kind": str(EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))])}
        subs[f"s{i:02d}"] = (text, params)
    return subs


def _days(rng, n: int, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")
    return pa.array(days, pa.timestamp("us"))


def _cents(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


_DOC_WORDS = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch".split()
)
_LANGS = np.array(["en", "zh", "es", "fr", "de"])


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = _DOC_WORDS[rng.integers(0, len(_DOC_WORDS), int(lengths.sum()))]
    texts, start = [], 0
    for length in lengths:
        texts.append(" ".join(words[start : start + length]))
        start += length
    # 5% near-duplicates: a copy of an earlier document plus one token, so
    # the MinHash/LSH query has true pairs to find
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_LANGS[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
            "source": pa.array(np.char.add("src", (np.arange(n) % 20).astype(str))),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(seed: int, out_dir: str) -> None:
    """The five tables the ``analytics_mix`` queries read, at sf0.1 size,
    in the fixture schemas (FIXTURES.md), as ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n = SF01_ROWS
    tables = {
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                "c_acctbal": pa.array(_cents(rng, n["customer"], -999.99, 9999.99)),
                "c_mktsegment": pa.array(
                    np.array(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"])[
                        rng.integers(0, 5, n["customer"])
                    ]
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
                "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n["orders"])]),
                "o_totalprice": pa.array(_cents(rng, n["orders"], 1000.0, 500000.0)),
                "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
                "o_orderpriority": pa.array(
                    np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                        rng.integers(0, 5, n["orders"])
                    ]
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, 20_000, n["lineitem"]), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, 1_000, n["lineitem"]), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, n["lineitem"]).astype(np.float64)),
                "l_extendedprice": pa.array(_cents(rng, n["lineitem"], 900.0, 105000.0)),
                "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n["lineitem"])]),
                "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n["lineitem"])]),
                "l_shipdate": _days(rng, n["lineitem"], "1995-01-02", "2001-11-04"),
            }
        ),
        "events": messages(rng, n["events"]),
        "documents": _documents(rng, n["documents"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
