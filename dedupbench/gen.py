"""Seeded input generator and truth sidecar for the gate -> dedup benchmark.

Every value is drawn from a numpy Generator seeded with (seed, GEN_VERSION,
dataset), so the same seed always yields byte-identical Parquet files and a
different seed yields different ones.  The program under test only ever sees
the Parquet input; the truth sidecar (planted duplicate pairs, planted gate
reasons) stays on the benchmark side.

Two datasets:

* ``images``: typed image+caption rows (the shape of
  ``operators.pipeline.IMAGES_GATE_SCHEMA``) with planted near-duplicate
  chains of four kinds -- exact copy, caption edit, phash bit-flip and
  substring -- each chain 2 or 3 members long, where every member derives
  from the previous one (A -> A' -> A'').  About 8 % of rows are malformed,
  each breaking exactly one gate keyword.
* ``json_images``: the same record shape as JSON text, carrying the quirks a
  typed column never does: 64.0 for an integer, ``true`` where an integer is
  required, missing vs null, non-ASCII captions, unsigned 64-bit phash values
  (most above 2^53, about half above 2^63), extra keys, and truncated JSON.
  Each invalid row breaks exactly one keyword, so its expected
  ``issue.reason`` is known.
"""

from __future__ import annotations

import base64
import json
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump whenever the generated bytes change, so cached inputs are rebuilt.
GEN_VERSION = 4

# Input sizes; why each was chosen is in NOTES.md and the workload's "why"
# in BENCHMARK.json.
IMAGES_VALID_ROWS = 8_000
JSON_ROWS = 80_000

_ROW_GROUP_ROWS = 4096
_TYPED_MALFORMED = [
    "required_caption", "required_bytes", "enum", "minimum", "maximum",
    "minLength", "maxLength", "pattern",
]
# (planted defect, expected issue.reason) for the JSON dataset
_JSON_DEFECTS = [
    ("int_is_true", "type"), ("caption_null", "type"), ("caption_missing", "required"),
    ("phash_missing", "required"), ("phash_string", "type"), ("phash_fraction", "type"),
    ("enum", "enum"), ("minimum", "minimum"), ("maximum", "maximum"),
    ("minLength_nonascii", "minLength"), ("maxLength", "maxLength"),
    ("pattern", "pattern"), ("truncated", "json"),
]
_NON_ASCII = [
    "naïve", "café", "über", "niño", "søster", "grüß", "ωμέγα", "łódź", "çay",
    "þing", "ñandú", "crème", "smörgås", "日本", "東京", "фото", "città", "ĳssel",
]


def _rng(seed: int, dataset: str) -> np.random.Generator:
    tag = sum(ord(c) << (8 * i) for i, c in enumerate(dataset[:8]))
    return np.random.default_rng([seed, GEN_VERSION, tag])


def _vocab(rng: np.random.Generator) -> list[str]:
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < 600:
        n = int(rng.integers(4, 9))
        w = "".join(chr(97 + c) for c in rng.integers(0, 26, size=n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words + _NON_ASCII


def _unique_ids(rng: np.random.Generator, n: int) -> list[str]:
    nums = rng.choice(10**12, size=n, replace=False)
    return [f"img{x:012d}" for x in nums]


def _flip_bits(rng: np.random.Generator, phash: int, max_bits: int = 2) -> int:
    bits = rng.choice(64, size=int(rng.integers(1, max_bits + 1)), replace=False)
    u = phash & (2**64 - 1)
    for b in bits:
        u ^= 1 << int(b)
    return u - 2**64 if u >= 2**63 else u


# ---------------------------------------------------------------- images ---


def images_rows(seed: int, n_valid: int = IMAGES_VALID_ROWS) -> tuple[dict, dict]:
    """Column dict for the typed images table, plus its truth sidecar."""
    rng = _rng(seed, "images")
    vocab = _vocab(rng)
    V = len(vocab)

    def toks(lo: int, hi: int) -> list[int]:
        return [int(t) for t in rng.integers(0, V, size=int(rng.integers(lo, hi + 1)))]

    def text(t: list[int]) -> str:
        return " ".join(vocab[i] for i in t)

    def rand_phash() -> int:
        return int(rng.integers(-(2**63), 2**63 - 1, dtype=np.int64))

    def content(t: list[int]) -> dict:
        return {
            "caption": text(t), "phash": rand_phash(),
            "w": int(rng.integers(32, 4097)), "h": int(rng.integers(32, 4097)),
            "fmt": ("png", "jpeg", "webp")[int(rng.integers(0, 3))],
            "bytes": rng.bytes(int(rng.integers(48, 129))),
        }

    rows: list[dict] = []
    pairs: list[tuple[int, int, str]] = []  # row indices of direct planted links

    def chain(kind: str, length: int) -> None:
        if kind == "caption":
            t = toks(20, 32)
            first = content(t)
            members = [first]
            for _ in range(length - 1):
                t = list(t)
                pos = int(rng.integers(0, len(t)))
                new = int(rng.integers(0, V - 1))
                t[pos] = new if new != t[pos] else V - 1
                m = content(t)
                members.append(m)
        elif kind == "substring":
            t = toks(30, 38)
            members = [content(t)]
            for size in (12, 6)[: length - 1]:
                start = int(rng.integers(1, len(t) - size))
                t = t[start:start + size]
                members.append(content(t))
        elif kind == "phash":
            members = [content(toks(8, 30))]
            for _ in range(length - 1):
                m = content(toks(8, 30))
                m["phash"] = _flip_bits(rng, members[-1]["phash"])
                members.append(m)
        else:  # exact
            members = [content(toks(8, 30))]
            members += [dict(members[0]) for _ in range(length - 1)]
        base = len(rows)
        rows.extend(members)
        pairs.extend((base + j, base + j + 1, kind) for j in range(length - 1))

    # ~4 % of valid rows start a chain of each kind (chains of 2 or 3)
    for kind in ("exact", "caption", "phash", "substring"):
        for _ in range(n_valid // 25):
            chain(kind, int(rng.integers(2, 4)))
    while len(rows) < n_valid:
        rows.append(content(toks(8, 36)))
    rows = rows[:n_valid]
    pairs = [p for p in pairs if p[1] < n_valid]

    n_bad = round(0.08 * n_valid / 0.92)
    bad_kinds = [_TYPED_MALFORMED[j % len(_TYPED_MALFORMED)] for j in range(n_bad)]
    for kind in bad_kinds:
        r = content(toks(8, 36))
        if kind == "required_caption":
            r["caption"] = None
        elif kind == "required_bytes":
            r["bytes"] = None
        elif kind == "enum":
            r["fmt"] = "bmp"
        elif kind == "minimum":
            r["w"] = 0
        elif kind == "maximum":
            r["h"] = 70000
        elif kind == "minLength":
            r["caption"] = "éé"
        elif kind == "maxLength":
            r["caption"] = text(toks(400, 420))[:2049].ljust(2049, "z")
        rows.append(r)

    ids = _unique_ids(rng, len(rows))
    for j, kind in enumerate(bad_kinds):
        if kind == "pattern":
            ids[n_valid + j] = f"IMG-{ids[n_valid + j][3:]}"
    order = rng.permutation(len(rows))  # planted members are not adjacent
    cols = {
        "image_id": [ids[i] for i in order],
        "bytes": [rows[i]["bytes"] for i in order],
        "w": [rows[i]["w"] for i in order],
        "h": [rows[i]["h"] for i in order],
        "fmt": [rows[i]["fmt"] for i in order],
        "caption": [rows[i]["caption"] for i in order],
        "phash": [rows[i]["phash"] for i in order],
    }
    truth = {
        "rows": len(rows),
        "valid": n_valid,
        "pairs": [[ids[a], ids[b], kind] for a, b, kind in pairs],
        "pair_kinds": dict(Counter(k for _, _, k in pairs)),
        "malformed": dict(Counter(bad_kinds)),
    }
    return cols, truth


_IMAGES_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()),
])


# ------------------------------------------------------------ json images ---


def json_rows(seed: int, n_rows: int = JSON_ROWS) -> tuple[dict, dict]:
    """(rid, doc) JSON-text records and the expected issue.reason per rid."""
    rng = _rng(seed, "json_images")
    vocab = _vocab(rng)
    ids = _unique_ids(rng, n_rows)
    # every random draw is vectorized up front; the row loop only assembles
    n_tok = rng.integers(4, 24, size=n_rows)
    tok = rng.integers(0, len(vocab), size=int(n_tok.sum()))
    tok_end = np.cumsum(n_tok)
    accent = np.where(rng.random(n_rows) < 0.2,
                      rng.integers(0, len(_NON_ASCII), size=n_rows), -1)
    blobs = rng.bytes(12 * n_rows)
    w = rng.integers(1, 65536, size=n_rows)
    h = rng.integers(1, 65536, size=n_rows)
    fmt = rng.integers(0, 3, size=n_rows)
    # realistic unsigned 64-bit perceptual hash
    phash = rng.integers(0, 2**64, size=n_rows, dtype=np.uint64)
    quirk = rng.random(n_rows)
    defect = np.where(rng.random(n_rows) < 0.2,
                      rng.integers(0, len(_JSON_DEFECTS), size=n_rows), -1)
    big_h = rng.integers(65536, 65536 + 10**6, size=n_rows)
    ascii_only = rng.random(n_rows) < 0.5
    cut = rng.random(n_rows)
    (n_tok, tok, tok_end, accent, w, h, fmt, phash, quirk, defect, big_h,
     ascii_only, cut) = (a.tolist() for a in (
        n_tok, tok, tok_end, accent, w, h, fmt, phash, quirk, defect, big_h,
        ascii_only, cut))
    docs: list[str] = []
    reasons: list[str | None] = []
    for i in range(n_rows):
        cap = " ".join(vocab[j] for j in tok[tok_end[i] - n_tok[i]:tok_end[i]])
        if accent[i] >= 0:
            cap = f"{_NON_ASCII[accent[i]]} {cap}"
        d: dict = {
            "image_id": ids[i],
            "bytes": base64.b64encode(blobs[12 * i:12 * i + 12]).decode(),
            "w": w[i],
            "h": h[i],
            "fmt": ("png", "jpeg", "webp")[fmt[i]],
            "caption": cap,
            "phash": phash[i],
        }
        if quirk[i] < 0.1:
            d["w"] = float(d["w"])  # 64.0-style integer: still valid
        elif quirk[i] < 0.15:
            d["source"] = "crawl"  # extra key: allowed
        reason = None
        if defect[i] >= 0:
            kind, reason = _JSON_DEFECTS[defect[i]]
            if kind == "int_is_true":
                d["h"] = True
            elif kind == "caption_null":
                d["caption"] = None
            elif kind == "caption_missing":
                del d["caption"]
            elif kind == "phash_missing":
                del d["phash"]
            elif kind == "phash_string":
                d["phash"] = str(d["phash"])
            elif kind == "phash_fraction":
                d["phash"] = d["phash"] % 10**6 + 0.5  # not integral
            elif kind == "enum":
                d["fmt"] = "bmp"
            elif kind == "minimum":
                d["w"] = 0
            elif kind == "maximum":
                d["h"] = big_h[i]
            elif kind == "minLength_nonascii":
                d["caption"] = "éé"  # 2 code points, 4 UTF-8 bytes
            elif kind == "maxLength":
                d["caption"] = ("ωμέγα " * 420)[:2049]
            elif kind == "pattern":
                d["image_id"] = "IMG-" + d["image_id"][3:]
        doc = json.dumps(d, ensure_ascii=ascii_only[i])
        if reason == "json":
            doc = doc[: 1 + int(cut[i] * (len(doc) - 1))]
        docs.append(doc)
        reasons.append(reason)
    truth = {
        "rows": n_rows,
        "valid": sum(r is None for r in reasons),
        "reasons": reasons,
        "histogram": {str(k): v for k, v in Counter(reasons).items()},
    }
    return {"rid": list(range(n_rows)), "doc": docs}, truth


_JSON_SCHEMA = pa.schema([("rid", pa.int64()), ("doc", pa.string())])

DATASETS = {
    "images": (images_rows, _IMAGES_SCHEMA),
    "json_images": (json_rows, _JSON_SCHEMA),
}


def write_dataset(dataset: str, seed: int, out_dir: str) -> None:
    """Generate `dataset` for `seed` into out_dir/{input.parquet,truth.json}."""
    make, schema = DATASETS[dataset]
    cols, truth = make(seed)
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(cols, schema=schema)
    tmp = os.path.join(out_dir, "input.parquet.tmp")
    pq.write_table(table, tmp, row_group_size=_ROW_GROUP_ROWS, compression="snappy")
    with open(os.path.join(out_dir, "truth.json.tmp"), "w", encoding="utf-8") as fh:
        json.dump(truth, fh)
    os.replace(os.path.join(out_dir, "truth.json.tmp"), os.path.join(out_dir, "truth.json"))
    os.replace(tmp, os.path.join(out_dir, "input.parquet"))


def cached_dataset(dataset: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Path of the cached Parquet input for (dataset, seed, GEN_VERSION) and
    its truth sidecar, generating both on a cache miss."""
    out = os.path.join(cache_root, f"{dataset}_s{seed}_g{GEN_VERSION}")
    path = os.path.join(out, "input.parquet")
    if not os.path.exists(path):
        write_dataset(dataset, seed, out)
    with open(os.path.join(out, "truth.json"), encoding="utf-8") as fh:
        return path, json.load(fh)
