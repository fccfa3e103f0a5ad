"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. Nothing here reads an earlier record or anything
outside the directory it is given.

Two families:

* ``write_cdr`` — kv wire files (one packet per line, entries joined by
  ``|``) for the mediation workload, plus the expected per-route and
  per-route×tier counts and charge totals, computed here in exact
  integer cents while the records are drawn.
* ``write_fixture`` — the ten fixture tables the query registry reads
  (``region`` … ``embeddings``), with the schemas and value domains of
  the repository's synthetic TPC-H-ish fixtures. Numerics are 2-decimal
  like the originals, so Spark and the DuckDB oracle round identically.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Route shares of the CDR stream (skewed, like real traffic: a few
#: target systems take most records).
ROUTES = ("billing", "rating", "fraud", "archive", "roaming", "prepaid",
          "interconnect", "analytics")
ROUTE_SHARES = (0.38, 0.21, 0.13, 0.09, 0.07, 0.05, 0.04, 0.03)
#: Records lacking ``s`` are dropped by ``filter_valid``; records lacking
#: ``t`` land on the ``dead-letter`` route.
MISSING_S = 0.02
MISSING_T = 0.02
DEAD_LETTER = "dead-letter"

#: Usage-tier tariff over the billed amount: (lo, hi, tier). Disjoint,
#: so ``range_join`` takes its CASE-bucket path.
TARIFF = ((0.0, 100.0, "T1"), (100.0, 500.0, "T2"), (500.0, 1.0e9, "T3"))


def _tier_of(cents: np.ndarray) -> np.ndarray:
    tiers = np.zeros(len(cents), dtype=np.int8)
    for i, (lo, _hi, _name) in enumerate(TARIFF):
        tiers[cents >= int(lo * 100)] = i
    return tiers


def _rounded_charge_cents(u: np.ndarray, d: np.ndarray, x: np.ndarray) -> np.ndarray:
    """round(amount × (1 − discount) × (1 + tax), 2) in exact cents,
    half-up; ``u`` in cents, ``d`` and ``x`` in whole percent."""
    num = u * (100 - d) * (100 + x)  # charge × 10^6 / 100 = cents × 10^4
    return (num + 5000) // 10000


def write_cdr(out_dir: str, seed: int, records: int, files: int) -> dict:
    """Write ``files`` kv wire files holding ``records`` packets and
    return the expected mediation result.

    Each packet is ``s=…|t=…|u=…|d=…|x=…|f=…``: subscriber id, target
    route, billed amount (2 decimals), discount and tax rates (whole
    percent as a 2-decimal fraction), source file name. A record whose
    exact charge falls on a half cent is redrawn, so any correct
    double-precision rating rounds to the same cent as this integer
    computation.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    s = rng.integers(1, 5_000_000, records)
    route = rng.choice(len(ROUTES), records, p=ROUTE_SHARES)
    u = rng.integers(1, 150_000, records)  # cents: 0.01 .. 1499.99
    d = rng.integers(0, 11, records)
    x = rng.integers(0, 9, records)
    # redraw half-cent ties: exact value ≡ 5000 (mod 10^4) in 10^-4 cents
    while True:
        tie = (u * (100 - d) * (100 + x)) % 10000 == 5000
        if not tie.any():
            break
        u[tie] = rng.integers(1, 150_000, int(tie.sum()))
    has_s = rng.random(records) >= MISSING_S
    has_t = rng.random(records) >= MISSING_T
    file_no = np.arange(records) % files

    expected = _expected_cdr(route, has_s, has_t, u, d, x)

    def field(key: str, values: pa.Array, present: np.ndarray | None = None) -> pa.Array:
        col = pc.binary_join_element_wise(pa.scalar(key + "="), values, "")
        if present is None:
            return col
        return pc.if_else(pa.array(present), col, pa.nulls(records, pa.string()))

    def cents_str(v: np.ndarray, width: int) -> pa.Array:
        whole = pa.array(v // 100).cast(pa.string())
        frac = pc.utf8_lpad(pa.array(v % 100).cast(pa.string()), width, "0")
        return pc.binary_join_element_wise(whole, frac, ".")

    names = np.array([f"cdr_{i:03d}.kv" for i in range(files)])
    cols = [
        field("s", pa.array(s).cast(pa.string()), has_s),
        field("t", pa.array(np.array(ROUTES)[route]), has_t),
        field("u", cents_str(u, 2)),
        field("d", cents_str(d, 2)),
        field("x", cents_str(x, 2)),
        field("f", pa.array(names[file_no])),
    ]
    lines = pc.binary_join_element_wise(*cols, "|", null_handling="skip")
    # group the lines by file (record i goes to file i % files) and join
    # each group into one newline-terminated body, all inside Arrow
    order = np.argsort(file_no, kind="stable")
    offsets = np.concatenate([[0], np.cumsum(np.bincount(file_no, minlength=files))])
    grouped = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), lines.take(pa.array(order)))
    bodies = pc.binary_join(grouped, "\n")
    for i in range(files):
        with open(os.path.join(out_dir, names[i]), "w", encoding="ascii") as f:
            f.write(bodies[i].as_py())
            f.write("\n")
    return expected


def _expected_cdr(route, has_s, has_t, u, d, x) -> dict:
    """Per-route and per-route×tier counts and charge totals (cents)
    of the records the pipeline keeps."""
    keep = has_s
    labels = np.where(has_t, np.array(ROUTES, dtype=object)[route], DEAD_LETTER)[keep]
    charge = _rounded_charge_cents(u, d, x)[keep]
    tiers = _tier_of(u)[keep]
    by_route: dict[str, list[int]] = {}
    by_tier: dict[str, list[int]] = {}
    for name in sorted(set(labels)):
        m = labels == name
        by_route[name] = [int(m.sum()), int(charge[m].sum())]
        for t, (_lo, _hi, tier) in enumerate(TARIFF):
            mt = m & (tiers == t)
            if mt.any():
                by_tier[f"{name}|{tier}"] = [int(mt.sum()), int(charge[mt].sum())]
    return {"records": int(len(u)), "kept": int(keep.sum()),
            "by_route": by_route, "by_route_tier": by_tier}


#: Event time of the first stream file (2024-01-01, epoch seconds); each
#: later file lands one minute of event time later.
STREAM_EPOCH = 1_704_067_200
#: Share of stream lines that are redeliveries: verbatim copies of a
#: line of the same or the previous file.
REDELIVERED = 0.10


def write_cdr_stream(out_dir: str, seed: int, files: int, per_file: int) -> dict:
    """Write a landed backlog of ``files`` kv micro-batch files of
    ``per_file`` lines each and return the rows per route the
    deduplicating stream must commit.

    Each packet is ``s=…|t=…|u=…|e=…``, ``e`` the event time in epoch
    seconds inside the file's minute. Subscriber ids are unique except
    for redelivered lines, which repeat a line of the same or the
    previous file verbatim (same ``s``, route and event time), so
    dedup on ``s`` within the watermark keeps exactly the first copy.
    ~2 % lack ``s`` (dropped), ~2 % lack ``t`` (dead-letter route).
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n = files * per_file
    s = rng.permutation(n) + 10_000_000
    route = rng.choice(len(ROUTES), n, p=ROUTE_SHARES)
    has_s = rng.random(n) >= MISSING_S
    has_t = rng.random(n) >= MISSING_T
    u = rng.integers(1, 150_000, n)
    e = STREAM_EPOCH + (np.arange(n) // per_file) * 60 + rng.integers(0, 60, n)
    lines = []
    for i in range(n):
        parts = []
        if has_s[i]:
            parts.append(f"s={s[i]}")
        if has_t[i]:
            parts.append(f"t={ROUTES[route[i]]}")
        parts.append(f"u={u[i] // 100}.{u[i] % 100:02d}")
        parts.append(f"e={e[i]}")
        lines.append("|".join(parts))
    # redeliveries replace originals, each copying an earlier line of the
    # same or the previous file; an original that was replaced is gone
    # from the stream, so the expectation counts the lines as written
    copy = rng.random(n) < REDELIVERED
    for i in np.flatnonzero(copy):
        lo = max(0, (i // per_file - 1) * per_file)
        if i > lo:
            j = int(rng.integers(lo, i))
            lines[i] = lines[j]
    by_route: dict[str, int] = {}
    seen: set[str] = set()
    for line in lines:
        if line in seen:
            continue
        seen.add(line)
        fields = dict(kv.split("=", 1) for kv in line.split("|"))
        if "s" in fields:
            key = fields.get("t", DEAD_LETTER)
            by_route[key] = by_route.get(key, 0) + 1
    for f in range(files):
        with open(os.path.join(out_dir, f"b{f:04d}.kv"), "w", encoding="ascii") as fh:
            fh.write("\n".join(lines[f * per_file:(f + 1) * per_file]) + "\n")
    return {"lines": n, "by_route": dict(sorted(by_route.items()))}


# -- fixture tables ------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["large", "hot", "blue", "small", "red", "cold", "dark", "light"]
_NOUN = ["ring", "bolt", "gear", "pipe", "nut", "spring", "valve", "chain"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
#: The sf0.1 fixture's document vocabulary: 30 words drawn uniformly,
#: plus the ``dup`` marker its near-duplicates end with.
_VOCAB = ("a agg batch big column customer data fast filter group hash join key "
          "line merge order part query row scan slow small sort spark stream table "
          "the value vector window").split()
#: Share of the sf0.1 documents that repeat another document with
#: `` dup`` appended (250 of 5 000).
NEAR_DUP_SHARE = 0.05

#: Row counts at scale 1.0 (the sf0.1 fixture sizes).
BASE_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000, "events": 100_000,
             "documents": 5_000, "embeddings": 2_000}

_DAY_MS = 86_400_000
_EPOCH_1995 = 788_918_400_000  # 1995-01-01 in ms


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """2-decimal doubles drawn as integer cents in [lo, hi)."""
    return rng.integers(lo, hi, n) / 100.0


def _ts_us(ms: np.ndarray) -> pa.Array:
    return pa.array(ms * 1000, pa.timestamp("us"))


#: Tables sized by ``corpus_scale`` instead of ``scale``.
CORPUS_TABLES = ("documents", "embeddings")


def fixture_tables(seed: int, scale: float, corpus_scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    n = {k: max(10, int(v * (corpus_scale if k in CORPUS_TABLES else scale)))
         for k, v in BASE_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _cents(rng, -99_999, 1_000_000, nc),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _cents(rng, -99_999, 1_000_000, ns),
    })
    npart = n["part"]
    keys = np.arange(npart)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": (90_000 + (keys % 1000) * 10) / 100.0,
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _cents(rng, 100_000, 50_000_000, no),
        "o_orderdate": _ts_us(_EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_MS),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_us(_EPOCH_1995 + rng.integers(1, 2499, nl) * _DAY_MS),
    })
    ne = n["events"]
    gaps = rng.integers(1, 2 * 2_592_000_000_000 // ne, ne)  # µs, ~30 days total
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(1_704_067_200_000_000 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _cents(rng, 0, 56_022, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, nd: int) -> pa.Table:
    """Documents built the way the sf0.1 fixture's are: 10-99 words
    drawn uniformly from its vocabulary, and 5 % of them replaced by
    another document (before or after it) with `` dup`` appended. Two
    copies of the same document are the exact duplicates (8 of the
    fixture's 5 000), a copy of a copy the rare two-``dup`` text."""
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 100, nd)]
    for i in np.flatnonzero(rng.random(nd) < NEAR_DUP_SHARE):
        j = int(rng.integers(0, nd - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(rng, nv: int, dim: int = 64) -> pa.Table:
    """Unit vectors with a uniformly drawn label of ten, as in the sf0.1
    fixture: its per-label means are no further from zero than the
    sampling noise of random unit vectors (norm ~0.07 over ~200
    vectors), and no two of its vectors have cosine above 0.99."""
    vecs = rng.normal(size=(nv, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, nv * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })


def write_fixture(out_dir: str, seed: int, scale: float,
                  corpus_scale: float | None = None) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every fixture table and
    return their row counts. ``corpus_scale`` (default ``scale``) sizes
    the document and embedding tables."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    tables = fixture_tables(seed, scale, scale if corpus_scale is None else corpus_scale)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
        rows[name] = table.num_rows
    return rows


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, data files) under ``path``; hidden and ``_``
    metadata files are not data."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            if f.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, f))
            files += 1
    return total, files

