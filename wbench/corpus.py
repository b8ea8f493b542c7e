"""Benchmark inputs: a synthetic analytics corpus and synthetic wiki dumps.

Both are built in two steps so that every seed does the same amount of
work:

* a BASE, generated from fixed internal seeds (so its sizes, join
  fan-outs, duplicate structure and length distributions never change),
  cached under a content key;
* a per-seed TRANSFORM that changes content but not statistics: an
  affine map over the 30-word document vocabulary (the ``dup`` marker
  word stays fixed, so near-duplicate structure is kept) and an
  orthogonal transform of the embeddings (dimension permutation plus
  sign flips, which keeps every pairwise cosine bit-identical).

The corpus mirrors the schemas the package's catalog reads (``region``
… ``embeddings``); the dumps reuse ``tools/gen_dumps.py``'s per-row
builders with a seeded RNG per shard.

Every cache entry writes its ``manifest.json`` last: a half-written
entry has no manifest and is rebuilt, never reused.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP = "dup"
DIM = 64
# Coprime to 30: the multipliers that make a -> (m*a + b) mod 30 a bijection.
_AFFINE_MULTS = (1, 7, 11, 13, 17, 19, 23, 29)

CORPUS_SIZES = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}
CORPUS_VERSION = 2


def _key(params: dict) -> str:
    return hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:16]


def _cached(root: str, params: dict, build) -> tuple[str, dict]:
    """Return (dir, manifest) for ``params``, building into a private dir
    and renaming it into place when the entry is missing or unfinished."""
    dest = os.path.join(root, _key(params))
    man_path = os.path.join(dest, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            return dest, json.load(f)
    shutil.rmtree(dest, ignore_errors=True)
    tmp = f"{dest}.build{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = dict(build(tmp), params=params)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    os.rename(tmp, dest)
    return dest, manifest


# ---------------------------------------------------------------- corpus


def _base_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(20240101)
    n = CORPUS_SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n["customer"])],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
        }
    )
    adj = ["small", "large", "red", "blue", "old", "new", "cold"]
    noun = ["widget", "bolt", "ring", "rod", "anvil", "gizmo", "plate"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    np_ = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(np_), pa.int64()),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 7, np_), rng.integers(0, 7, np_))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
            "p_type": [types[i] for i in rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 200) * 0.1, 2),
        }
    )
    no = n["orders"]
    day0 = dt.datetime(1995, 1, 1)
    odays = rng.integers(0, 2404, no)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": pa.array(
                [day0 + dt.timedelta(days=int(d)) for d in odays], pa.timestamp("us")
            ),
            "o_orderpriority": [
                ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
                for i in rng.integers(0, 5, no)
            ],
        }
    )
    lines = rng.integers(1, 8, no)
    lok = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    nl = len(lok)
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": pa.array(
                [
                    day0 + dt.timedelta(days=int(odays[o] + s))
                    for o, s in zip(lok, rng.integers(1, 122, nl))
                ],
                pa.timestamp("us"),
            ),
        }
    )
    ne = n["events"]
    ts0 = dt.datetime(2024, 1, 1)
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            # TIMESTAMP(NANOS), the form catalog.table is written for, so
            # it takes its nanosAsLong read path
            "ts": pa.array(
                [ts0 + dt.timedelta(microseconds=int(o)) for o in offs],
                pa.timestamp("us"),
            ).cast(pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, 15, ne), pa.int64()),
            "event_type": [
                ("click", "view", "signup", "error", "purchase")[i]
                for i in rng.integers(0, 5, ne)
            ],
            "value": np.round(rng.uniform(0.01, 330.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.06:
            texts.append(texts[int(rng.integers(0, i))] + " " + DUP)
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, 30, k)))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": [("en", "en", "de", "fr", "es", "zh")[i] for i in rng.integers(0, 6, nd)],
            "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vecs = rng.normal(size=(nv, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return t


def vocab_map(seed: int) -> dict[str, str]:
    """The seed's affine bijection of the 30 base words (``dup`` fixed)."""
    m = _AFFINE_MULTS[seed % len(_AFFINE_MULTS)]
    b = (seed // len(_AFFINE_MULTS)) % 30
    return {w: VOCAB[(m * j + b) % 30] for j, w in enumerate(VOCAB)}


def _transform(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    out = dict(tables)
    vm = vocab_map(seed)
    docs = tables["documents"]
    texts = [
        " ".join(vm.get(w, w) for w in s.split()) for s in docs["text"].to_pylist()
    ]
    out["documents"] = docs.set_column(
        docs.schema.get_field_index("text"), "text", pa.array(texts)
    ).set_column(
        docs.schema.get_field_index("n_chars"),
        "n_chars",
        pa.array([len(s) for s in texts], pa.int64()),
    )
    rng = np.random.default_rng(seed)
    perm = rng.permutation(DIM)
    signs = rng.choice(np.array([-1.0, 1.0], dtype=np.float32), DIM)
    emb = tables["embeddings"]
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False))
    vecs = vecs[:, perm] * signs
    out["embeddings"] = emb.set_column(
        emb.schema.get_field_index("embedding"),
        "embedding",
        pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
    )
    return out


def corpus(cache_root: str, seed: int) -> str:
    """Directory of the seed's corpus (one ``<table>.parquet`` each)."""
    params = {"kind": "corpus", "version": CORPUS_VERSION, "sizes": CORPUS_SIZES, "seed": seed}

    def build(d: str) -> dict:
        tables = _transform(_base_tables(), seed)
        for name, tbl in tables.items():
            pq.write_table(tbl, os.path.join(d, f"{name}.parquet"))
        return {"rows": {k: v.num_rows for k, v in tables.items()}}

    return _cached(cache_root, params, build)[0]


# ---------------------------------------------------------------- dumps


def _wikidata_shard(path: str, shard: int, shards: int, n: int, seed: int) -> int:
    from tools.gen_dumps import _entity

    rng = random.Random(f"wd-{seed}-{shard}")
    with open(path, "w") as f:
        f.write("[\n")
        for i in range(shard, n, shards):
            f.write(json.dumps(_entity(i, rng), separators=(",", ":")))
            f.write(",\n")
        f.write("]\n")
    return len(range(shard, n, shards)) + 2


def _wikipedia_shard(
    path: str, shard: int, shards: int, n_pages: int, n_entities: int, seed: int
) -> int:
    """Mirror of gen_dumps' page shard writer with a seeded RNG."""
    from tools.gen_dumps import WORDS, _page_text, _title

    rng = random.Random(f"wp-{seed}-{shard}")

    def esc(s: str) -> str:
        return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    out = ['<mediawiki xml:lang="en">\n']
    for i in range(shard, n_pages, shards):
        r = rng.random()
        if r < 0.05:
            title, text = f"Template:{WORDS[i % len(WORDS)]} {i}", "{{documentation}}"
        elif r < 0.08:
            title, text = _title(i), f"#REDIRECT [[{_title(rng.randrange(n_entities))}]]"
        elif r < 0.10:
            title, text = _title(i), "This page is a disambiguation list.\n* item"
        else:
            title, text = _title(i), _page_text(i, rng, n_entities)
        text = esc(text)
        out.append(
            f"  <page>\n    <title>{esc(title)}</title>\n    <ns>0</ns>\n"
            f"    <id>{10_000 + i}</id>\n    <revision>\n"
            f"      <id>{90_000_000 + i}</id>\n"
            "      <timestamp>2024-01-01T00:00:00Z</timestamp>\n"
            f'      <text bytes="{len(text)}">{text}</text>\n'
            "    </revision>\n  </page>\n"
        )
    out.append("</mediawiki>\n")
    body = "".join(out)
    with open(path, "w") as f:
        f.write(body)
    return body.count("\n")


def dumps(cache_root: str, seed: int, n_entities: int, n_pages: int, shards: int) -> dict:
    """Seeded Wikidata NDJSON + Wikipedia XML shards; returns the manifest
    (line and byte counts, and the two shard directories)."""
    params = {
        "kind": "dumps",
        "seed": seed,
        "n_entities": n_entities,
        "n_pages": n_pages,
        "shards": shards,
    }

    def build(d: str) -> dict:
        wd, wp = os.path.join(d, "wikidata"), os.path.join(d, "wikipedia")
        os.makedirs(wd)
        os.makedirs(wp)
        wd_lines = sum(
            _wikidata_shard(os.path.join(wd, f"part-{s:04d}.json"), s, shards, n_entities, seed)
            for s in range(shards)
        )
        wp_lines = sum(
            _wikipedia_shard(
                os.path.join(wp, f"part-{s:04d}.xml"), s, shards, n_pages, n_entities, seed
            )
            for s in range(shards)
        )

        def size(p: str) -> int:
            return sum(os.path.getsize(os.path.join(p, f)) for f in os.listdir(p))

        return {
            "wikidata_lines": wd_lines,
            "wikipedia_lines": wp_lines,
            "wikidata_bytes": size(wd),
            "wikipedia_bytes": size(wp),
        }

    d, m = _cached(cache_root, params, build)
    return dict(m, wikidata_path=os.path.join(d, "wikidata"), wikipedia_path=os.path.join(d, "wikipedia"))
