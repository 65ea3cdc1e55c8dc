"""Seeded input generation for the benchmark.

Two input families, both a pure function of ``--seed``:

- ``tables``: the ten parquet tables the registry queries read
  (region nation customer supplier part orders lineitem events
  documents embeddings), with the same schemas and value shapes as the
  sf0.01 test tables described in TESTDATA.md.
- ``ep1``: a file corpus for the EP1 CLI (FIXTURES.md sections 1-5):
  encoded PNG/JPEG images across three directories, corrupt files,
  ``.webp`` files the scan must skip, ``{image_id}.txt`` sidecars for
  about 90% of ids, two overlapping aesthetic-score JSON files and a
  tag-vocabulary CSV. The generator also computes, from its own rows,
  the counters the EP1 run must report; they go into the manifest.

Inputs are written once per seed under ``<work>/inputs/seed-<n>/`` and
reused; a ``.done`` marker makes a half-written directory invisible.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 test tables (documents/embeddings have a
# floor of 500 rows at every scale).
TABLE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "gizmo", "plate", "rod"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.43, 0.15, 0.14, 0.14, 0.14]


def _pick(rng: np.random.Generator, values: list, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the testdata
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_pick(rng, _WORDS, k)))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n).astype(np.int32)
    v = 0.14 * centers[label] + rng.normal(scale=1 / math.sqrt(dim), size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.array(list(v), type=pa.list_(pa.float32()))
    return pa.table(
        {"vec_id": pa.array(np.arange(n, dtype=np.int64)), "embedding": emb,
         "label": pa.array(label)}
    )


def make_tables(rng: np.random.Generator, out: str) -> dict[str, int]:
    """Write the ten query tables; returns rows per table."""
    r = TABLE_ROWS
    i32, i64 = np.int32, np.int64
    n_orders, n_cust, n_part, n_supp = r["orders"], r["customer"], r["part"], r["supplier"]
    n_ev = r["events"]
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev)
    ev_ts = np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps).astype(i64)
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": _REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=i32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=i64)),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(_pick(rng, _PART_ADJ, n_part), _pick(rng, _PART_NOUN, n_part))
                ],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, _PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders, dtype=i64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(i64)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
                "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_orders, r["lineitem"]).astype(i64)),
                "l_partkey": pa.array(rng.integers(0, n_part, r["lineitem"]).astype(i64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, r["lineitem"]).astype(i64)),
                "l_linenumber": pa.array(rng.integers(1, 8, r["lineitem"]).astype(i32)),
                "l_quantity": rng.integers(1, 51, r["lineitem"]).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, r["lineitem"]),
                "l_discount": np.round(rng.uniform(0, 0.1, r["lineitem"]), 2),
                "l_tax": np.round(rng.uniform(0, 0.08, r["lineitem"]), 2),
                "l_returnflag": _pick(rng, ["A", "N", "R"], r["lineitem"]),
                "l_linestatus": _pick(rng, ["F", "O"], r["lineitem"]),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", r["lineitem"]),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev, dtype=i64)),
                "ts": pa.array(ev_ts, type=pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, n_ev * 3 // 200, n_ev).astype(i64)),
                "event_type": _pick(rng, _EVENT_TYPES, n_ev),
                "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": pa.table(_documents(rng, r["documents"])),
        "embeddings": _embeddings(rng, r["embeddings"]),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# EP1 file corpus
# ---------------------------------------------------------------------------

MAX_AREA, MIN_SIZE, MAX_SIZE, STEPS = 1024 * 1024, 256, 2048, 64
AESTHETIC_THRESHOLD = 0.5  # the EP1 CLI default


def bucket_resolutions() -> list[tuple[int, int]]:
    """The reference's predefined buckets at the EP1 CLI defaults
    (dataruu bucket_manager.py:8-27), sorted as the program sorts them."""
    out = {(1024, 1024)}
    w = MIN_SIZE
    while w <= MAX_SIZE:
        h = min(MAX_SIZE, (MAX_AREA // w) // STEPS * STEPS)
        if h >= MIN_SIZE:
            out.update({(w, h), (h, w)})
        w += STEPS
    return sorted(out)


def expected_bucket(w: int, h: int, resos: list[tuple[int, int]]) -> tuple[int, int]:
    """Reference bucket choice: the exact reso when predefined, else the
    first bucket with the smallest aspect-ratio distance."""
    if (w, h) in resos:
        return w, h
    ar = w / h
    return min(resos, key=lambda r: abs(r[0] / r[1] - ar))


def _png(w: int, h: int, idat: bytes) -> bytes:
    def chunk(kind: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + kind + data
                + struct.pack(">I", zlib.crc32(kind + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def _jpeg(w: int, h: int, ncomp: int) -> bytes:
    """Baseline JPEG of a flat mid-grey image: one-symbol Huffman tables
    (DC category 0, AC end-of-block), so every block codes as two zero
    bits and the scan is a run of zero bytes."""
    seg = lambda marker, body: b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body
    comps = b"".join(bytes([c + 1, 0x11, 0]) for c in range(ncomp))
    blocks = ((w + 7) // 8) * ((h + 7) // 8) * ncomp
    nbits = 2 * blocks
    scan = bytes(nbits // 8) + (bytes([(1 << (8 - nbits % 8)) - 1]) if nbits % 8 else b"")
    return (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xDB, b"\x00" + bytes([1] * 64))
        + seg(0xC0, b"\x08" + struct.pack(">HH", h, w) + bytes([ncomp]) + comps)
        + seg(0xC4, b"\x00" + bytes([1] + [0] * 15) + b"\x00")
        + seg(0xC4, b"\x10" + bytes([1] + [0] * 15) + b"\x00")
        + seg(0xDA, bytes([ncomp]) + b"".join(bytes([c + 1, 0x00]) for c in range(ncomp))
              + b"\x00\x3f\x00")
        + scan
        + b"\xff\xd9"
    )


def _image_dims(rng: np.random.Generator, resos: list[tuple[int, int]]) -> tuple[int, int]:
    """Widths/heights skewed toward 512-1536, with exact predefined
    resos, extreme aspect ratios, over-area and tiny images mixed in."""
    u = rng.random()
    if u < 0.15:
        return resos[int(rng.integers(0, len(resos)))]
    if u < 0.20:
        return (64, 2048) if rng.random() < 0.5 else (2048, 64)
    if u < 0.25:
        return int(rng.integers(2048, 4097)), int(rng.integers(2048, 4097))
    if u < 0.30:
        return int(rng.integers(64, 256)), int(rng.integers(64, 256))
    return int(rng.integers(512, 1537)), int(rng.integers(512, 1537))


def make_ep1(rng: np.random.Generator, out: str, n_ids: int = 100) -> dict:
    """Write the EP1 corpus under ``out``; returns the expected outputs."""
    resos = bucket_resolutions()
    dirs = [os.path.join(out, "images", d) for d in ("imgs_a", "imgs_b", "imgs_c")]
    tag_dir = os.path.join(out, "tags")
    for d in dirs + [tag_dir]:
        os.makedirs(d)
    # tag vocabulary: 150 general / 46 character / 4 rating (FIXTURES §4)
    general = [f"{a}_{b}" for a in ("long", "short", "blue", "red", "white", "black",
                                    "open", "closed", "looking", "holding")
               for b in ("hair", "eyes", "dress", "mouth", "shirt", "girl",
                         "boy", "skirt", "hat", "smile", "sky", "ratio", "x", "background",
                         "(cosplay)")]
    characters = [f"char{i}_(series{i % 7})" for i in range(46)]
    ratings = ["general", "sensitive", "questionable", "explicit"]
    vocab_rows = (
        [(n, 0) for n in general] + [(n, 4) for n in characters] + [(n, 9) for n in ratings]
    )
    with open(os.path.join(out, "selected_tags.csv"), "w") as fh:
        fh.write("tag_id,name,category,count\n")
        for i, (name, cat) in enumerate(vocab_rows):
            fh.write(f"{i},{name},{cat},{int(rng.integers(10, 100000))}\n")

    idat_cache: dict[tuple[int, int], bytes] = {}
    # Exact shares (not per-row coin flips), so every seed yields the
    # same counts and only the contents differ: 5% of ids in two dirs,
    # 3% corrupt files, 90% sidecar coverage, 80% of ids scored (10% in
    # both files), 35% of scored ids below the threshold.
    n_files = n_ids + n_ids // 20
    dup_ids = set(rng.permutation(n_ids)[: n_ids // 20].tolist())
    corrupt_files = set(rng.permutation(n_files)[: max(1, round(0.03 * n_files))].tolist())
    tagged = set(rng.permutation(n_ids)[: n_ids * 9 // 10].tolist())
    classes = ([(0,)] * (n_ids * 55 // 100) + [(1,)] * (n_ids * 15 // 100)
               + [(0, 1)] * (n_ids // 10) + [()] * (n_ids - n_ids * 80 // 100))
    membership = [classes[j] for j in rng.permutation(n_ids)]
    scored = [i for i in range(n_ids) if membership[i]]
    below_ids = set(rng.permutation(scored)[: len(scored) * 35 // 100].tolist())

    images: list[dict] = []
    for i in range(n_ids):
        image_id = str(100000 + i * 7 + int(rng.integers(0, 7)))
        for c in range(2 if i in dup_ids else 1):
            d = int(rng.integers(0, len(dirs))) if c == 0 else (images[-1]["dir"] + 1) % 3
            w, h = _image_dims(rng, resos)
            corrupt = len(images) in corrupt_files
            ext = ("png", "jpg", "jpeg")[int(rng.integers(0, 3))]
            if corrupt:
                junk = bytes(rng.integers(0, 256, 40, dtype=np.uint8))
                blob = b"\x89PNG\r\n\x1a\n" + junk if ext == "png" else b"\xff\xd8\xff\xd9" + junk
            elif ext == "png":
                if (w, h) not in idat_cache:
                    idat_cache[(w, h)] = zlib.compress(bytes(h * (3 * w + 1)), 1)
                blob = _png(w, h, idat_cache[(w, h)])
            else:
                blob = _jpeg(w, h, 3 if rng.random() < 0.8 else 1)
            name = f"{image_id}_p{c}.{ext}"
            with open(os.path.join(dirs[d], name), "wb") as fh:
                fh.write(blob)
            images.append({"id": image_id, "idx": i, "dir": d, "w": w, "h": h,
                           "corrupt": corrupt})
        if i in tagged:
            rating = ratings[int(rng.integers(0, 4))]
            tags = list(_pick(rng, general + characters, int(rng.integers(2, 12))))
            tags = [t.replace("_", " ") if rng.random() < 0.7 else t for t in tags]
            tags += ["", " smile ", "1girl"][: int(rng.integers(0, 4))]
            with open(os.path.join(tag_dir, f"{image_id}.txt"), "w") as fh:
                fh.write(rating + ", " + ", ".join(tags) + "\n")
    # .webp files and stray sidecars next to images: the scan must skip them
    for k in range(6):
        with open(os.path.join(dirs[k % 3], f"{900000 + k}_p0.webp"), "wb") as fh:
            fh.write(b"RIFF" + struct.pack("<I", 4) + b"WEBP")
        with open(os.path.join(dirs[k % 3], f"{900000 + k}.txt"), "w") as fh:
            fh.write("general, stray\n")

    # Two aesthetic files; the second overlaps the first and wins on
    # collisions (last-write-wins, dataruu run.py:72-76). Kept scores cluster
    # just above the 0.5 default threshold and around 0.8.
    def score(below: bool) -> float:
        if below:
            return round(float(rng.uniform(0.3, 0.4999)), 4)
        if rng.random() < 0.5:
            return round(float(rng.uniform(0.5, 0.6)), 4)
        return round(float(np.clip(rng.normal(0.8, 0.08), 0.5, 1.0)), 4)

    id_of = {im["idx"]: im["id"] for im in images}
    files, final = [[], []], {}
    for i in range(n_ids):
        for f in membership[i]:
            # an id in both files gets an arbitrary score in the first
            s_ = score(i in below_ids) if f == membership[i][-1] else score(bool(rng.random() < 0.5))
            files[f].append({f"/data/imgs/{id_of[i]}_p0.jpg": s_})
            final[id_of[i]] = s_
    aesthetic = []
    for f, entries in enumerate(files):
        path = os.path.join(out, f"aesthetic_{f}.json")
        with open(path, "w") as fh:
            json.dump(entries, fh)
        aesthetic.append(path)

    seen = error = below = 0
    hist: dict[str, int] = {}
    for im in images:
        if im["corrupt"]:
            continue
        seen += 1
        s = final.get(im["id"])
        if s is None:
            error += 1
        elif s < AESTHETIC_THRESHOLD:
            below += 1
        else:
            b = expected_bucket(im["w"], im["h"], resos)
            key = f"{b[0]}x{b[1]}"
            hist[key] = hist.get(key, 0) + 1
    return {
        "image_dirs": dirs,
        "sidecar_dir": tag_dir,
        "aesthetic_files": aesthetic,
        "vocab_csv": os.path.join(out, "selected_tags.csv"),
        "n_image_files": len(images),
        "audit": {"total_error": error, "below_threshold": below, "total_seen": seen},
        "rows_out": sum(hist.values()),
        "buckets": hist,
    }


def _signature(root: str) -> tuple[str, int, int]:
    """(sha256 prefix, file count, bytes) over every file's relative
    path and contents."""
    h = hashlib.sha256()
    n = size = 0
    for d, _sub, files in sorted(os.walk(root)):
        _sub.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                data = fh.read()
            h.update(os.path.relpath(p, root).encode() + b"\0" + data)
            n += 1
            size += len(data)
    return h.hexdigest()[:16], n, size


def prepare(work: str, seed: int, kind: str) -> dict:
    """Generate (or reuse) the ``kind`` inputs for ``seed``; returns the
    manifest: paths, sizes, data signature and, for ep1, the expected
    outputs."""
    root = os.path.join(work, "inputs", f"seed-{seed}", kind)
    manifest_path = os.path.join(root, "manifest.json")
    if os.path.exists(os.path.join(root, ".done")):
        with open(manifest_path) as fh:
            return json.load(fh)
    shutil.rmtree(root, ignore_errors=True)
    data = os.path.join(root, "data")
    os.makedirs(data)
    # one independent stream per input family, so adding a family never
    # changes another family's data for the same seed
    rng = np.random.default_rng([seed, {"tables": 1, "ep1": 2}[kind]])
    if kind == "tables":
        manifest = {"dir": data, "rows": make_tables(rng, data)}
    else:
        manifest = make_ep1(rng, data)
    sig, n_files, n_bytes = _signature(data)
    manifest.update(seed=seed, signature=sig, files=n_files, bytes=n_bytes)
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh, indent=1)
    open(os.path.join(root, ".done"), "w").close()
    return manifest
