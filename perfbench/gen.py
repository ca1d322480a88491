"""Seeded input generator for the pipeline benchmark.

Every workload's input is derived from the sf0.1 tables under
``perfbench/data`` with the clone rules of the 10x scale soak
(ScaleSoakSpec): ids shifted per copy, text letter-rotated per copy over
a fixed alphabet, embeddings rotated by whole positions (norm-preserving)
and, for the stream workload, route ids suffixed per copy. The seed picks
the id offsets, which rotation each copy gets, and the row order; the
shape each operator depends on (id residues, hosts and links derived from
the text, vector norms, the hour span) is the same for every seed.

The output is ``<dir>/<table>.parquet``, the layout graft.TestdataAdapter
reads, so the program sees only the generated files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

# The scale soak's rotation alphabet: ten letters, so ten copies are ten
# distinct rotations and no copy is an exact text twin of another.
ALPHA = "aeiousnrtl"

# Input size per leg. `events_every` keeps one event in that many
# (by event id, so the 720-hour span, the 5 routes and most stops
# survive); `stops_every` keeps the events of one stop in that many (by
# stop id: the mock passenger flow is generated per stop and hour, so its
# cost follows the stop count); `docs`/`vectors` keep the ids below that
# bound (the query ids and the id residues the index operators carve by
# survive; the corpus also keeps their near-duplicate partners); `copies`
# is the amplification.
SIZES = {
    "transit_refresh": {"stops_every": 30, "events_every": 1, "event_copies": 1},
    "transit_stream": {"stops_every": 1, "events_every": 200, "event_copies": 10},
    "corpus_curate": {"docs": 100, "doc_copies": 10},
    "index_maintain": {"docs": 600, "vectors": 500},
}


def _read(name):
    return pq.read_table(os.path.join(DATA, f"{name}.parquet"))


def _shuffle(table, rng):
    order = np.arange(table.num_rows)
    rng.shuffle(order)
    return table.take(pa.array(order))


def _write(table, out_dir, name):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _rot(k):
    k %= len(ALPHA)
    return ALPHA[k:] + ALPHA[:k]


def _rotate_text(texts, k):
    if k % len(ALPHA) == 0:
        return texts
    table = str.maketrans(ALPHA, _rot(k))
    return pa.array([t.translate(table) if t is not None else None
                     for t in texts.to_pylist()], pa.string())


def _events(size, seed, rng, suffix_routes):
    ev = _read("events").select(
        ["event_id", "ts", "user_id", "event_type", "value", "props"])
    keep = ((ev["event_id"].to_numpy() % size["events_every"] == 0)
            & (ev["user_id"].to_numpy() % size["stops_every"] == 0))
    ev = ev.filter(pa.array(keep))
    copies = size["event_copies"]
    # per-seed offsets: event ids move by a multiple of 10^9 (clear of the
    # per-copy 10^8 stride), stop ids by a multiple of 10^5 that keeps
    # them well inside INT range and clear of the per-copy 10^6 stride
    ev_off = (seed % 17) * 1_000_000_000
    uid_off = (seed % 7) * 100_000
    parts = []
    for k in range(copies):
        cols = {
            "event_id": pc.add(ev["event_id"], ev_off + k * 100_000_000),
            "ts": ev["ts"],
            "user_id": pc.add(ev["user_id"], uid_off + k * 1_000_000),
            "event_type": (pc.binary_join_element_wise(
                ev["event_type"], pa.scalar(f"{k}"), "_")
                if suffix_routes else ev["event_type"]),
            "value": ev["value"],
            "props": ev["props"],
        }
        parts.append(pa.table(cols))
    return _shuffle(pa.concat_tables(parts), rng)


def _lead(text, words=6):
    return " ".join(text.split()[:words])


def _documents(limit, copies, seed, rng, partners=False):
    docs = _read("documents")
    keep = pc.less(docs["doc_id"], limit)
    if partners:
        # the corpus' near duplicates share their leading words but sit at
        # unrelated ids: keep every document that leads like a kept one,
        # so the subset still has near-duplicate pairs to cluster
        lead = [_lead(t) for t in docs["text"].to_pylist()]
        kept = {l for l, k in zip(lead, keep.to_pylist()) if k}
        keep = pa.array([l in kept for l in lead])
    docs = docs.filter(keep)
    parts = []
    for k in range(copies):
        # the seed decides which rotation each id block gets; with ten
        # copies every rotation (the identity included) is used once
        r = (seed + k) % len(ALPHA)
        parts.append(pa.table({
            "doc_id": pc.add(docs["doc_id"], k * 10_000_000),
            "text": _rotate_text(docs["text"], r),
            "lang": docs["lang"],
            "source": docs["source"],
            "n_chars": docs["n_chars"],
        }))
    return _shuffle(pa.concat_tables(parts), rng)


def _embeddings(limit, seed, rng):
    emb = _read("embeddings")
    emb = emb.filter(pc.less(emb["vec_id"], limit))
    r = seed % 64
    vecs = emb["embedding"].to_pylist()
    if r:
        vecs = [v[r:] + v[:r] for v in vecs]
    out = pa.table({
        "vec_id": emb["vec_id"],
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": emb["label"],
    })
    return _shuffle(out, rng)


def generate(leg, seed, out_dir):
    """Write the input of benchmark leg `leg` for `seed` under `out_dir`
    and return the generated row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    size = SIZES[leg]
    tables = {}
    if leg == "transit_refresh":
        tables["events"] = _events(size, seed, rng, suffix_routes=False)
    elif leg == "transit_stream":
        tables["events"] = _events(size, seed, rng, suffix_routes=True)
    elif leg == "corpus_curate":
        tables["documents"] = _documents(size["docs"], size["doc_copies"], seed, rng,
                                         partners=True)
    elif leg == "index_maintain":
        tables["embeddings"] = _embeddings(size["vectors"], seed, rng)
        tables["documents"] = _documents(size["docs"], 1, seed, rng)
    else:
        raise ValueError(f"unknown leg {leg}")
    for name, table in tables.items():
        _write(table, out_dir, name)
    return {name: table.num_rows for name, table in tables.items()}


if __name__ == "__main__":
    import sys
    print(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
