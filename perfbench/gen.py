"""Seeded input generators of the benchmark.

Every input set is a pure function of (workload, seed, size). It is
written once as multi-file parquet next to a ground-truth manifest.json
of everything planted in it, into a directory named after the three and
this file's version. The directory is renamed into place when complete,
so an interrupted run never leaves a half-written input behind.
Generation runs before the benchmark's JVM starts and is never timed.
"""
import hashlib
import json
import random
import shutil
from datetime import date
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# inputs written by another version of this file are never reused
VERSION = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:8]
SOURCE_FILES = 8
TARGET_FILES = 6
# surplus target copies of each planted duplicate; two make the repair
# script's delete_all_copies signal fire
EXTRA_COPIES = 2

SIZES = {
    "cmp_identical": {"rows": 500_000},
    # ppm of rows the drifted target mutates, deletes and duplicates
    "cmp_drift": {"rows": 250_000, "mutate_ppm": 500, "delete_ppm": 100, "duplicate_ppm": 100},
    "pipe_curate": {"docs": 300, "max_cluster": 20, "clusters": 12},
    "graph_rounds": {"orders": 10_000, "parts": 20_000, "hot_parts": 400, "hot_pct": 30},
}

COMMENT_WORDS = ["carefully", "final", "deposits", "furiously", "regular", "accounts",
                 "quickly", "ironic", "packages", "blithely", "express", "requests",
                 "slyly", "pending", "theodolites", "bold", "instructions", "even",
                 "foxes", "special"]
SHIP_EPOCH_DAY = (date(1992, 1, 2) - date(1970, 1, 1)).days


def _decimal(cents):
    """decimal(12,2) array from integer cents (the unscaled values)."""
    cents = np.asarray(cents, dtype=np.int64)
    words = np.empty((len(cents), 2), dtype=np.int64)
    words[:, 0] = cents
    words[:, 1] = cents >> 63  # sign extension to 128 bits
    return pa.Array.from_buffers(pa.decimal128(12, 2), len(cents),
                                 [None, pa.py_buffer(words.tobytes())])


def _dates(days):
    days = np.asarray(days, dtype=np.int32)
    return pa.Array.from_buffers(pa.date32(), len(days), [None, pa.py_buffer(days.tobytes())])


def _pick(rng, values, n):
    return pa.array(values).take(pa.array(rng.integers(0, len(values), n)))


def lineitem_columns(rng, orderkey, linenumber, partkey):
    """Lineitem-shaped columns: numpy arrays of long keys, decimal(12,2)
    money in cents and dates as epoch days; arrow arrays of short
    strings; a comment that is null on one row in ten (`comment_null`)."""
    n = len(orderkey)
    ship = SHIP_EPOCH_DAY + rng.integers(0, 2400, n)
    words = [_pick(rng, COMMENT_WORDS, n) for _ in range(3)]
    return {
        "l_orderkey": np.asarray(orderkey, dtype=np.int64),
        "l_partkey": np.asarray(partkey, dtype=np.int64),
        "l_suppkey": rng.integers(1, 10_001, n),
        "l_linenumber": np.asarray(linenumber, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n) * 100,
        "l_extendedprice": rng.integers(0, 10_000_000, n),
        "l_discount": rng.integers(0, 11, n),
        "l_tax": rng.integers(0, 9, n),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": ship,
        "l_commitdate": ship + rng.integers(-30, 30, n),
        "l_receiptdate": ship + rng.integers(1, 31, n),
        "l_shipinstruct": _pick(rng, ["DELIVER IN PERSON", "COLLECT COD", "NONE",
                                      "TAKE BACK RETURN"], n),
        "l_shipmode": _pick(rng, ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"], n),
        "l_comment": pc.binary_join_element_wise(*words, " "),
        "comment_null": rng.integers(0, 10, n) == 0,
    }


MONEY = {"l_quantity", "l_extendedprice", "l_discount", "l_tax"}
DATES = {"l_shipdate", "l_commitdate", "l_receiptdate"}


def lineitem_table(cols, rows):
    """The rows `rows` (an index array) of `cols` as an arrow table."""
    out = {}
    for name, values in cols.items():
        if name == "comment_null":
            continue
        v = values.take(pa.array(rows)) if isinstance(values, pa.Array) else values[rows]
        if name in MONEY:
            out[name] = _decimal(v)
        elif name in DATES:
            out[name] = _dates(v)
        elif name == "l_comment":
            out[name] = pc.if_else(pa.array(cols["comment_null"][rows]),
                                   pa.scalar(None, pa.string()), v)
        else:
            out[name] = pa.array(v)
    return pa.table(out)


def _write_files(table, path, files):
    """`table` as `files` parquet files of consecutive rows."""
    path.mkdir(parents=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       path / f"part-{i:05d}.parquet")


def _compare_source(rng, rows):
    i = np.arange(rows)
    return lineitem_columns(rng, i // 4 + 1, i % 4 + 1, rng.integers(1, 200_001, rows))


def cmp_identical(rng, d, rows):
    """The source in key order, and the same rows again in a seeded
    random order and another file split: no file, order or split shared."""
    cols = _compare_source(rng, rows)
    _write_files(lineitem_table(cols, np.arange(rows)), d / "source", SOURCE_FILES)
    _write_files(lineitem_table(cols, rng.permutation(rows)), d / "target", TARGET_FILES)
    return {"rows": rows, "target_rows": rows}


def cmp_drift(rng, d, rows, mutate_ppm, delete_ppm, duplicate_ppm):
    """Exactly rows * ppm / 1e6 distinct rows, picked at random, are
    mutated, deleted and duplicated. Half the mutants get +0.01 on the
    decimal price; the other half flip the nullable comment between
    null and a value. Duplicates appear 1 + EXTRA_COPIES times in the
    target, which is scattered like cmp_identical's."""
    cols = _compare_source(rng, rows)
    _write_files(lineitem_table(cols, np.arange(rows)), d / "source", SOURCE_FILES)
    m, dl, u = (rows * ppm // 1_000_000 for ppm in (mutate_ppm, delete_ppm, duplicate_ppm))
    planted = rng.choice(rows, m + dl + u, replace=False)
    mutated, deleted, duplicated = (np.zeros(rows, dtype=bool) for _ in range(3))
    mutated[planted[:m]] = True
    deleted[planted[m:m + dl]] = True
    duplicated[planted[m + dl:]] = True
    odd = np.zeros(rows, dtype=bool)
    odd[planted[1:m:2]] = True
    tcols = dict(cols)
    tcols["l_extendedprice"] = np.where(mutated & ~odd,
                                        cols["l_extendedprice"] + 1, cols["l_extendedprice"])
    flip = mutated & odd
    tcols["comment_null"] = np.where(flip, ~cols["comment_null"], cols["comment_null"])
    tcols["l_comment"] = pc.if_else(pa.array(flip), "restored", cols["l_comment"])
    keep = np.flatnonzero(~deleted)
    dups = np.flatnonzero(duplicated)
    target = np.concatenate([keep] + [dups] * EXTRA_COPIES)
    _write_files(lineitem_table(tcols, rng.permutation(target)), d / "target", TARGET_FILES)

    def keys(mask):
        idx = np.flatnonzero(mask)
        return [[int(cols["l_orderkey"][i]), int(cols["l_linenumber"][i])] for i in idx]
    return {"rows": rows, "target_rows": len(target), "extra_copies": EXTRA_COPIES,
            "mutated": keys(mutated), "deleted": keys(deleted), "duplicated": keys(duplicated)}


def graph_rounds(rng, d, orders, parts, hot_parts, hot_pct):
    """Orders of 1-7 lines whose part keys mix a hot set (hot_pct% of
    lines over hot_parts parts) into a uniform draw over all parts, so
    the co-purchase graph has hubs."""
    lines = rng.integers(1, 8, orders)
    orderkey = np.repeat(np.arange(1, orders + 1), lines)
    linenumber = np.arange(len(orderkey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    hot = rng.integers(0, 100, len(orderkey)) < hot_pct
    partkey = np.where(hot, rng.integers(1, hot_parts + 1, len(orderkey)),
                       rng.integers(1, parts + 1, len(orderkey)))
    cols = lineitem_columns(rng, orderkey, linenumber, partkey)
    _write_files(lineitem_table(cols, np.arange(len(orderkey))), d / "lineitem", SOURCE_FILES)
    return {"rows": len(orderkey)}


STOPWORDS = ["the", "a", "and", "of", "is"]
SOURCES = [f"src{i}" for i in range(8)]


def pipe_curate(rng, d, docs, max_cluster, clusters):
    """A document corpus: Zipf-sized near-duplicate clusters (member =
    template plus one word of its own), base documents, 2% low-quality
    documents, a PII span in a twentieth of the texts, then 3% exact
    copies, over a Zipf mix of sources, with doc ids a seeded
    permutation. Near-duplicates are this close, and base documents
    share no phrase, on purpose: looser clusters or a shared line leave
    MinHash components whose depth, and so the number of
    connected-components rounds, varies with the seed."""
    rnd = random.Random(int(rng.integers(0, 2**63)))
    syllables = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
    vocab = {}
    while len(vocab) < 4000:
        vocab["".join(rnd.choice(syllables) for _ in range(rnd.randint(2, 4)))] = None
    vocab = [w for w in vocab if w not in STOPWORDS]

    def word():
        # quadratic skew: the commonest word is ~1.6% of tokens, far
        # under the repetition filter's 12% cap
        if rnd.randrange(5) == 0:
            return rnd.choice(STOPWORDS)
        return vocab[int(len(vocab) * rnd.random() ** 2)]

    def base(n):
        return [word() for _ in range(n)]

    weights = [1 / (i + 1) for i in range(len(SOURCES))]
    texts, kinds, cluster_of, dup_of = [], [], [], []

    def add(words, kind, cluster=-1, dup=-1):
        texts.append(" ".join(words))
        kinds.append(kind)
        cluster_of.append(cluster)
        dup_of.append(dup)

    for c in range(1, clusters + 1):
        tpl = base(rnd.randint(50, 69))
        for i in range(max(2, max_cluster // c)):
            add(tpl + [vocab[i]] if i > 0 else tpl, "near_dup", cluster=c)
    low_quality, exact_dups = docs // 50, docs * 3 // 100
    while len(texts) < docs - low_quality - exact_dups:
        add(base(rnd.randint(30, 69)), "base")
    for i in range(low_quality):
        add(["buy now"] * 30 if i % 2 == 0 else base(rnd.randint(3, 7)), "low_quality")
    pii = []
    for i in sorted(rnd.sample(range(len(texts)), len(texts) // 20)):
        kind = rnd.choice(["email", "ip", "phone"])
        if kind == "email":
            value = f"{rnd.choice(vocab)}.{rnd.choice(vocab)}@example.org"
        elif kind == "ip":
            value = "10." + ".".join(str(rnd.randrange(256)) for _ in range(3))
        else:
            value = f"{rnd.randint(200, 999)}-{rnd.randrange(10000):04d}"
        ws = texts[i].split(" ")
        at = rnd.randint(0, len(ws))
        texts[i] = " ".join(ws[:at] + [value] + ws[at:])
        pii.append((i, kind, value))
    # exact copies last, so each carries its original's PII span too
    pii_of = {p[0]: p for p in pii}
    originals = len(texts)
    for _ in range(exact_dups):
        o = rnd.randrange(originals)
        if o in pii_of:
            pii.append((len(texts), pii_of[o][1], pii_of[o][2]))
        texts.append(texts[o])
        kinds.append("exact_dup")
        cluster_of.append(cluster_of[o])
        dup_of.append(o)
    # Zipf source shares, exact in count, shuffled over the documents
    counts = [round(len(texts) * w / sum(weights)) for w in weights]
    sources = [src for src, c in zip(SOURCES, counts) for _ in range(c)]
    sources = (sources + SOURCES[:1] * len(texts))[:len(texts)]
    rnd.shuffle(sources)
    ids = list(range(len(texts)))
    rnd.shuffle(ids)
    order = rng.permutation(len(texts))
    _write_files(pa.table({
        "doc_id": pa.array([ids[i] for i in order], pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "source": pa.array([sources[i] for i in order], pa.string()),
    }), d / "corpus", SOURCE_FILES)

    def groups(key):
        out = {}
        for i, k in enumerate(key):
            if k >= 0:
                out.setdefault(k, []).append(ids[i])
        return [out[k] for k in sorted(out)]
    dup_groups = {}
    for i, o in enumerate(dup_of):
        if o >= 0:
            dup_groups.setdefault(o, [ids[o]]).append(ids[i])
    return {"rows": len(texts),
            "near_dup_clusters": groups(cluster_of),
            "exact_dup_groups": [dup_groups[o] for o in sorted(dup_groups)],
            "low_quality": [ids[i] for i, k in enumerate(kinds) if k == "low_quality"],
            "pii": [{"doc_id": ids[i], "kind": k, "value": v} for i, k, v in pii]}


GENERATORS = {"cmp_identical": cmp_identical, "cmp_drift": cmp_drift,
              "pipe_curate": pipe_curate, "graph_rounds": graph_rounds}


def inputs(workload, seed, data):
    """Directory of the workload's inputs for `seed`, generated if absent."""
    size = SIZES[workload]
    tag = "-".join(f"{k}{v}" for k, v in size.items())
    d = data / f"{workload}-s{seed}-{tag}-{VERSION}"
    if (d / "manifest.json").is_file():
        return d
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    tmp.mkdir(parents=True)
    manifest = GENERATORS[workload](np.random.default_rng(seed), tmp, **size)
    (tmp / "manifest.json").write_text(json.dumps(manifest) + "\n")
    tmp.rename(d)
    return d
