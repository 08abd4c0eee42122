"""Seeded input generators, cached per seed.

Everything here runs before any clock starts: a workload asks for its
inputs, gets a cache directory, and copies from it.  The same seed
always gives byte-identical inputs.  Generation is single-threaded
(numpy + one Python loop), so it never competes with Spark for cores.

Three generators:

- ``cdc_log``: Debezium-Avro frames with Confluent framing over 8 Kafka
  partitions (key-hash partitioned, so one key's events are ordered by
  offset within one partition), Zipf-skewed keys over a bounded key
  space, a c/u/d op mix driven by per-key liveness, ~0.5% poison frames
  and a replayed-duplicate suffix (redelivered frames with their
  original coordinates).  A ``truth.parquet`` beside the frames lists
  what each frame means, for the output checks.
- ``vector_log``: 64-d embedding vectors for the serving workload, then
  seeded delta batches (updates, deletes, near-duplicate inserts).
- ``tables``: the TPC-H-like star schema plus ``events``, ``documents``
  and ``embeddings`` that the registry queries read, with the fixture
  column names and types and uniform value ranges like the fixture's.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import avro_writer

GEN_VERSION = 1
TOPIC = "cdc.public.users"
N_PARTITIONS = 8
FRAME_SCHEMA = "topic string, partition int, offset long, key binary, value binary"
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
POISON_RATE = 0.005
DUP_FRACTION = 0.03  # of each partition's tail, redelivered


def cached(root: str, name: str, build) -> str:
    """Return ``root/name``, building it with ``build(tmp_dir)`` first if
    absent.  The build writes a sibling tmp dir that is renamed into
    place, so an interrupted run never leaves a half-built cache entry."""
    path = os.path.join(root, name)
    if os.path.isdir(path):
        return path
    os.makedirs(root, exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    os.makedirs(tmp)
    try:
        build(tmp)
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float = 1.1) -> np.ndarray:
    weights = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, size=n, p=weights / weights.sum())
    return rng.permutation(n_keys)[ranks].astype(np.int64)


# --------------------------------------------------------------------------
# CDC frames
# --------------------------------------------------------------------------


def cdc_log(
    cache_root: str,
    seed: int,
    *,
    n_batches: int,
    events_per_batch: int,
    n_keys: int,
) -> str:
    """Build (or reuse) a CDC frame log; returns its cache dir.

    Layout: ``frames/b<batch>-p<part>.parquet`` (one file per partition
    per batch), ``truth.parquet`` (one row per frame:
    batch, partition, offset, pk, op, event_type, value, poison, dup) and
    ``meta.json`` (counts)."""
    name = f"cdc-v{GEN_VERSION}-s{seed}-b{n_batches}x{events_per_batch}-k{n_keys}"

    def build(out: str) -> None:
        rng = np.random.default_rng(seed)
        n = n_batches * events_per_batch
        keys = _zipf_keys(rng, n, n_keys)
        is_poison = rng.random(n) < POISON_RATE
        poison_kind = rng.integers(0, 3, n)
        etype = rng.integers(0, len(EVENT_TYPES), n)
        values = np.round(rng.uniform(0.0, 500.0, n), 2)
        upd_draw = rng.random(n)
        next_offset = [0] * N_PARTITIONS
        live: dict[int, tuple[int, str, float]] = {}
        base_ms = 1_700_000_000_000
        rows = []  # (batch, partition, offset, pk, value frame, op, event_type, value, poison)
        for i in range(n):
            pk = int(keys[i])
            part = pk % N_PARTITIONS
            off = next_offset[part]
            next_offset[part] += 1
            ts = base_ms + i
            prev = live.get(pk)
            if prev is None:
                op, before, after = "c", None, (pk, EVENT_TYPES[etype[i]], float(values[i]))
            elif upd_draw[i] < 0.8:
                op, before, after = "u", prev, (pk, EVENT_TYPES[etype[i]], float(values[i]))
            else:
                op, before, after = "d", prev, None
            body = avro_writer.envelope(op, ts, before, after, tx_id=i, lsn=i)
            if is_poison[i]:
                # the frame is lost to the stream: the key's state does
                # not advance, and the DLQ is the only place it lands
                value_bytes = avro_writer.poison(int(poison_kind[i]), body)
                rows.append((i // events_per_batch, part, off, pk, value_bytes, None, None, None, True))
                continue
            if op == "d":
                live.pop(pk)
            else:
                live[pk] = after
            img = after or before
            rows.append(
                (i // events_per_batch, part, off, pk,
                 avro_writer.frame(body, avro_writer.VALUE_SCHEMA_ID),
                 op, img[1], img[2], False)
            )
        # replayed-duplicate suffix: the tail of every partition is
        # redelivered with its original coordinates (a consumer restart
        # from an older committed offset), as one extra batch
        tail = []
        for part in range(N_PARTITIONS):
            prows = [r for r in rows if r[1] == part]
            k = int(len(prows) * DUP_FRACTION)
            tail.extend(prows[len(prows) - k:] if k else [])
        dup_rows = [(n_batches,) + r[1:] for r in tail]
        all_rows = rows + dup_rows
        is_dup = [False] * len(rows) + [True] * len(dup_rows)

        os.makedirs(f"{out}/frames")
        batch = np.array([r[0] for r in all_rows], dtype=np.int64)
        part = np.array([r[1] for r in all_rows], dtype=np.int32)
        offset = np.array([r[2] for r in all_rows], dtype=np.int64)
        pks = np.array([r[3] for r in all_rows], dtype=np.int64)
        key_bytes = [avro_writer.frame(avro_writer.key(int(p)), avro_writer.KEY_SCHEMA_ID) for p in pks]
        value_bytes = [r[4] for r in all_rows]
        frames = pa.table(
            {
                "topic": pa.array([TOPIC] * len(all_rows), pa.string()),
                "partition": pa.array(part, pa.int32()),
                "offset": pa.array(offset, pa.int64()),
                "key": pa.array(key_bytes, pa.binary()),
                "value": pa.array(value_bytes, pa.binary()),
            }
        )
        for b in range(n_batches + 1):
            for p in range(N_PARTITIONS):
                sel = np.nonzero((batch == b) & (part == p))[0]
                if len(sel):
                    pq.write_table(frames.take(sel), f"{out}/frames/b{b:05d}-p{p}.parquet")
        pq.write_table(
            pa.table(
                {
                    "batch": batch,
                    "partition": part,
                    "offset": offset,
                    "pk": pks,
                    "op": pa.array([r[5] for r in all_rows], pa.string()),
                    "event_type": pa.array([r[6] for r in all_rows], pa.string()),
                    "value": pa.array([r[7] for r in all_rows], pa.float64()),
                    "poison": pa.array([r[8] for r in all_rows], pa.bool_()),
                    "dup": pa.array(is_dup, pa.bool_()),
                }
            ),
            f"{out}/truth.parquet",
        )
        n_poison = sum(1 for r in all_rows if r[8])
        with open(f"{out}/meta.json", "w") as fh:
            json.dump(
                {
                    "frames": len(all_rows),
                    "poison_frames": n_poison,
                    "unique_decodable": sum(1 for r in rows if not r[8]),
                    "decodable": len(all_rows) - n_poison,
                    "batches": len(np.unique(batch)),
                },
                fh,
            )

    return cached(cache_root, name, build)


# --------------------------------------------------------------------------
# Documents and embeddings (serving corpus and query tables)
# --------------------------------------------------------------------------

WORDS = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()
LANGS = np.array(["en", "en", "en", "en", "de", "es", "fr", "zh"])
DIM = 64


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Texts of 10..99 words; ~3% are near duplicates of an earlier text
    (one extra marker word) and ~0.5% exact duplicates, so the dedup and
    suppression paths have work to do."""
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(WORDS[w] for w in words[pos:pos + ln]))
        pos += ln
    kind = rng.random(n)
    src = rng.integers(0, max(n, 1), n)
    for i in range(1, n):
        j = int(src[i]) % i
        if kind[i] < 0.005:
            texts[i] = texts[j]
        elif kind[i] < 0.035:
            texts[i] = texts[j] + " dup"
    return texts


def unit_vectors(rng: np.random.Generator, labels: np.ndarray) -> np.ndarray:
    """Unit-norm float32 vectors clustered around one center per label."""
    centers = rng.normal(0.0, 1.0, (10, DIM))
    v = centers[labels] + rng.normal(0.0, 0.8, (len(labels), DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _vec_array(v: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(pa.array(v.reshape(-1), pa.float32()), DIM).cast(
        pa.list_(pa.float32())
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts = doc_texts(rng, n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)], pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": _vec_array(unit_vectors(rng, labels)),
            "label": pa.array(labels, pa.int32()),
        }
    )


# --------------------------------------------------------------------------
# Query tables (the registry's fixture schema)
# --------------------------------------------------------------------------


def tables(cache_root: str, seed: int, sf: float) -> str:
    """The ten fixture tables at scale factor ``sf`` (row counts as the
    fixture's: 1.5M orders, ~6M lineitems, 1M events per unit of sf;
    500 documents and 500 embeddings at the smallest scales), one
    parquet file each, named ``<table>.parquet``."""
    name = f"tables-v{GEN_VERSION}-s{seed}-sf{sf}"

    def build(out: str) -> None:
        rng = np.random.default_rng(seed)
        n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), max(int(10_000 * sf), 25)
        n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
        n_users = max(int(15_000 * sf), 20)
        n_docs, n_vecs = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)

        def money(lo: float, hi: float, n: int) -> np.ndarray:
            return np.round(rng.uniform(lo, hi, n), 2)

        def days(start: str, n_days: int, n: int) -> np.ndarray:
            return np.datetime64(start, "us") + rng.integers(0, n_days, n).astype("timedelta64[D]")

        out_tables = {
            "region": pa.table(
                {
                    "r_regionkey": pa.array(np.arange(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
                }
            ),
            "nation": pa.table(
                {
                    "n_nationkey": pa.array(np.arange(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
                }
            ),
            "supplier": pa.table(
                {
                    "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                    "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                    "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                    "s_acctbal": money(-999.99, 9999.99, n_supp),
                }
            ),
            "customer": pa.table(
                {
                    "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                    "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                    "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                    "c_acctbal": money(-999.99, 9999.99, n_cust),
                    "c_mktsegment": np.array(
                        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
                    )[rng.integers(0, 5, n_cust)],
                }
            ),
            "part": pa.table(
                {
                    "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                    "p_name": [
                        f"{a} {b}"
                        for a, b in zip(
                            np.array("blue red new old hot cold large small green".split())[
                                rng.integers(0, 9, n_part)
                            ],
                            np.array("anvil bolt gear plate ring rod widget".split())[
                                rng.integers(0, 7, n_part)
                            ],
                        )
                    ],
                    "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                    "p_type": np.array(
                        ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
                    )[rng.integers(0, 6, n_part)],
                    "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                    "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
                }
            ),
            "orders": pa.table(
                {
                    "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                    "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                    "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                    "o_totalprice": money(1000.0, 500000.0, n_ord),
                    "o_orderdate": days("1995-01-01", 2404, n_ord),
                    "o_orderpriority": np.array(
                        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                    )[rng.integers(0, 5, n_ord)],
                }
            ),
            "lineitem": pa.table(
                {
                    "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                    "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                    "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                    "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                    "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                    "l_extendedprice": money(900.0, 105000.0, n_line),
                    "l_discount": rng.integers(0, 11, n_line) / 100.0,
                    "l_tax": rng.integers(0, 9, n_line) / 100.0,
                    "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                    "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                    "l_shipdate": days("1995-01-02", 2498, n_line),
                }
            ),
            "events": pa.table(
                {
                    "event_id": pa.array(np.arange(n_ev), pa.int64()),
                    "ts": np.datetime64("2024-01-01", "us")
                    + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"),
                    "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
                    "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
                    "value": np.round(rng.exponential(50.0, n_ev), 2),
                    "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                }
            ),
            "documents": documents_table(rng, n_docs),
            "embeddings": embeddings_table(rng, n_vecs),
        }
        for t, table in out_tables.items():
            pq.write_table(table, f"{out}/{t}.parquet")

    return cached(cache_root, name, build)


def vector_log(cache_root: str, seed: int, *, n_vecs: int, n_deltas: int, delta: dict) -> str:
    """Embedding CDC log ``vecs.parquet`` (vec_id, offset, op, embedding,
    cycle).  Cycle 0 is the initial load (every id created); cycle k >= 1
    is delta k: ``delta["update"]`` fresh vectors for live ids,
    ``delta["delete"]`` deletes of live ids and ``delta["insert"]``
    near-duplicate inserts (a live vector plus small noise, renormalized).
    Offsets grow across the whole log."""
    name = f"vectors-v{GEN_VERSION}-s{seed}-v{n_vecs}-c{n_deltas}-" + "-".join(
        f"{k}{v}" for k, v in sorted(delta.items())
    )

    def build(out: str) -> None:
        rng = np.random.default_rng(seed)
        init = unit_vectors(rng, rng.integers(0, 10, n_vecs))
        rows = [(i, i, "c", init[i], 0) for i in range(n_vecs)]
        live = {r[0]: r[3] for r in rows}
        offset, next_id = n_vecs, n_vecs
        n_up, n_del = delta["update"], delta["delete"]
        for cycle in range(1, n_deltas + 1):
            picks = rng.choice(sorted(live), n_up + n_del + delta["insert"], replace=False)
            fresh = unit_vectors(rng, rng.integers(0, 10, n_up))
            for j, v in enumerate(int(p) for p in picks):
                if j < n_up:
                    live[v] = fresh[j]
                    rows.append((v, offset, "u", fresh[j], cycle))
                elif j < n_up + n_del:
                    del live[v]
                    rows.append((v, offset, "d", None, cycle))
                else:
                    near = live[v] + rng.normal(0.0, 0.05, DIM)
                    live[next_id] = (near / np.linalg.norm(near)).astype(np.float32)
                    rows.append((next_id, offset, "c", live[next_id], cycle))
                    next_id += 1
                offset += 1
        cols = list(zip(*rows))
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(cols[0], pa.int64()),
                    "offset": pa.array(cols[1], pa.int64()),
                    "op": pa.array(cols[2], pa.string()),
                    "embedding": pa.array(
                        [None if v is None else v.tolist() for v in cols[3]], pa.list_(pa.float32())
                    ),
                    "cycle": pa.array(cols[4], pa.int32()),
                }
            ),
            f"{out}/vecs.parquet",
        )

    return cached(cache_root, name, build)
