"""Seeded input generator for the perfbench workloads.

Everything the engine sees is written here from a seed: page messages
(the Kafka payload shape, one JSON document per row of a ``value``
column) and a price-observation table in the ``lineitem`` schema.
The same seed gives byte-identical files; ``digest`` fingerprints them.

Page construction follows the planted-token oracle of
``queries/ml.py``: every page that carries its true price carries the
token ``sale`` right beside it, and nowhere else, so a correct
featurize → train → score pipeline recovers the true price exactly.
Decoy prices sit next to currency symbols but more than a context
window (150 chars) away from ``sale``; decimals and bare integers far
from any currency are not price candidates at all.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NUM_FEATURES = 1000  # operators.models hashing width
SNIPPET = 150  # operators.extraction context window
GAP = 2 * SNIPPET + 60  # prose between two numeric segments
SEPARATOR = "sale"

# ---------------------------------------------------------------- xxhash64
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Signed XXH64, as Spark's ``xxhash64`` computes it for strings."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def term_bucket(token: str) -> int:
    """``pmod(xxhash64(token), NUM_FEATURES)`` — featurize_candidates."""
    return xxhash64(token.encode()) % NUM_FEATURES


# ------------------------------------------------------------------ tokens
# Letters-only tokens that the page markup itself puts in a context
# window (tags, attributes, segment words).
MARKUP_TOKENS = (
    "html", "head", "title", "body", "div", "class", "nav", "offer", "ship",
    "spec", "p", "on", "now", "ends", "soon", "shipping", "from", "per",
    "order", "version", "build", "sku", "reviews", "item",
)
_CONS = "bdfgklmntvz"
_VOWS = "aeiou"


def _fragments(token: str) -> set[str]:
    """The token and every prefix and suffix of it: a context window
    can cut a word at either edge."""
    return {token[:i] for i in range(1, len(token) + 1)} | {token[i:] for i in range(len(token))}


def _leaks(token: str) -> bool:
    """Whether any fragment of ``token`` shares the separator's hash
    bucket — it would then carry the planted feature into decoy
    contexts and the oracle would no longer be exact."""
    sale = term_bucket(SEPARATOR)
    return any(term_bucket(f) == sale for f in _fragments(token))


def _vocabulary(size: int = 420) -> tuple[str, ...]:
    """Fixed pseudo-word prose vocabulary of non-leaking words."""
    words = [
        a + b + c + d
        for a in _CONS for b in _VOWS for c in _CONS for d in _VOWS
        if a + b + c + d != SEPARATOR and not _leaks(a + b + c + d)
    ]
    return tuple(random.Random(0).sample(words, size))


VOCAB = _vocabulary()
if any(_leaks(t) for t in MARKUP_TOKENS):
    raise RuntimeError("a markup token leaks into the separator bucket")


# ----------------------------------------------------------------- domains
@dataclass(frozen=True)
class Domain:
    host: str
    weight: float
    style: str  # "train" | "single_class" | "tiny" | "unseen"


# Skewed sizes: one mega-domain down to a long tail. ``single_class``
# pages carry only their true price (every candidate positive) and
# ``tiny`` has too few rows, so training must skip exactly those two;
# ``unseen`` never appears in training data at all.
DOMAINS = (
    Domain("mega.example.com", 0.40, "train"),
    Domain("big.example.com", 0.18, "train"),
    Domain("mid.example.com", 0.12, "train"),
    Domain("small.example.com", 0.08, "train"),
    Domain("niche.example.com", 0.06, "train"),
    Domain("rare.example.com", 0.04, "train"),
    Domain("oneprice.example.com", 0.08, "single_class"),
    Domain("tiny.example.com", 0.0, "tiny"),
    Domain("unseen.example.com", 0.04, "unseen"),
)
TINY_PAGES = 2
MIN_DOMAIN_PAGES = 12
TRAINED = tuple(d.host for d in DOMAINS if d.style == "train")
SKIPPED = tuple(d.host for d in DOMAINS if d.style in ("single_class", "tiny"))


@dataclass(frozen=True)
class Page:
    url: str
    domain: str
    planted: float | None  # the true price on the page, if any
    n_decoys: int
    updated: float  # the pattern price carried by the message
    payload: str  # the raw message exactly as written
    corrupt: bool

    @property
    def n_candidates(self) -> int:
        return (self.planted is not None) + self.n_decoys


def _money(cents: int) -> str:
    return f"{cents // 100:,}.{cents % 100:02d}"


def _prose(rng: random.Random, n_chars: int) -> str:
    # every word takes at least 5 chars with its space, so k words
    # always reach n_chars; drawing them in bulk keeps generation fast
    k = n_chars // 5 + 1
    out, size = [], 0
    for w, kind in zip(rng.choices(VOCAB, k=k), rng.choices((0, 1, 2), cum_weights=(93, 97, 100), k=k)):
        if kind == 1:
            w = f"sku {rng.randint(10_000, 99_999_999)}"
        elif kind == 2:
            w = f"reviews {rng.randint(1, 9_999)}"
        out.append(w)
        size += len(w) + 1
        if size >= n_chars:
            break
    return " ".join(out)


def _html(rng: random.Random, title: str, planted_cents: int | None, decoys: list[int]) -> str:
    segs = []
    if planted_cents is not None:
        segs.append(("offer", f"on {SEPARATOR} now $ {_money(planted_cents)} {SEPARATOR} ends soon"))
    segs += [("ship", f"shipping from $ {_money(c)} per order") for c in decoys]
    segs += [
        ("spec", f"version {rng.randint(1, 9)}.{rng.randint(0, 99)} build {rng.randint(1, 999)}")
        for _ in range(rng.randint(1, 2))
    ]
    rng.shuffle(segs)
    body = "".join(
        f'<div class="{cls}"><p>{_prose(rng, GAP)} {text} </p></div>\n' for cls, text in segs
    )
    return f"<html><head><title>{title}</title></head><body>{body}<p>{_prose(rng, GAP)}</p></body></html>"


def _page(
    rng: random.Random, url: str, dom: Domain, kind: str, updated_mode: str, corrupt: bool
) -> Page:
    """``kind``: planted | decoy_only | no_cand. ``updated_mode``:
    equal | minor | major | zero — how the pattern price relates to the
    true one, chosen so that every price_status branch occurs."""
    cents = rng.randint(100, 499_999)
    planted = cents if kind == "planted" else None
    n_decoys = 0
    if kind == "decoy_only" or (kind == "planted" and dom.style != "single_class"):
        n_decoys = rng.randint(1, 4)
    decoys = []
    while len(decoys) < n_decoys:
        c = rng.randint(99, 4_999)
        if c != planted and c not in decoys:
            decoys.append(c)
    html = _html(rng, " ".join(rng.choice(VOCAB) for _ in range(3)), planted, decoys)
    price = cents / 100
    updated = {
        "equal": price,
        "minor": round(price * 1.05, 2),
        "major": round(price * 1.5, 2),
        "zero": 0.0,
    }[updated_mode]
    payload = json.dumps(
        {"url": url, "title": "item", "html": html, "price": price,
         "updatedPrice": updated, "domain": dom.host},
        separators=(",", ":"),
    )
    if corrupt:
        payload = payload[: rng.randint(20, len(payload) // 2)]
    return Page(url, dom.host, planted / 100 if planted else None, n_decoys, updated, payload, corrupt)


def _pick_domain(rng: random.Random, allowed: tuple[str, ...]) -> Domain:
    pool = [d for d in DOMAINS if d.style in allowed and d.weight > 0]
    return rng.choices(pool, weights=[d.weight for d in pool])[0]


def labeled_pages(seed: int, tag: str, n_pages: int) -> list[Page]:
    """Training corpus: true price == pattern price on every page that
    carries one; ``TINY_PAGES`` pages of the tiny domain, at least
    ``MIN_DOMAIN_PAGES`` of every other, the rest drawn by the skewed
    weights; a few pages with no candidate at all."""
    rng = random.Random(f"{seed}/{tag}")
    tiny = [d for d in DOMAINS if d.style == "tiny"]
    floor = [d for d in DOMAINS if d.style in ("train", "single_class")] * MIN_DOMAIN_PAGES
    out = []
    for i in range(n_pages):
        if i < TINY_PAGES:
            dom = tiny[0]
        elif i < TINY_PAGES + len(floor):
            dom = floor[i - TINY_PAGES]
        else:
            dom = _pick_domain(rng, ("train", "single_class"))
        kind = "no_cand" if rng.random() < 0.05 else "planted"
        out.append(_page(rng, f"http://{dom.host}/p/{tag}-{i}", dom, kind, "equal", False))
    rng.shuffle(out)
    return out


# (kind, updated_mode, weight, domain styles to draw from); the
# last row sends pages with candidates to domains without a model.
# The shares are not taken from production traffic: they are chosen
# so that every price_status branch occurs in every backlog file.
SERVE_MIX = (
    ("planted", "equal", 0.62, None),
    ("planted", "minor", 0.07, None),
    ("planted", "major", 0.07, None),
    ("planted", "zero", 0.04, None),
    ("decoy_only", "equal", 0.06, None),
    ("no_cand", "equal", 0.08, None),
    ("no_cand", "zero", 0.03, None),
    ("planted", "equal", 0.03, ("single_class", "tiny", "unseen")),
)
CORRUPT_SHARE = 0.02


def serve_pages(seed: int, tag: str, n_pages: int) -> list[Page]:
    """One backlog file's worth of serve messages, ~2% corrupt JSON."""
    rng = random.Random(f"{seed}/{tag}")
    out = []
    for i in range(n_pages):
        kind, mode, _, styles = rng.choices(SERVE_MIX, weights=[m[2] for m in SERVE_MIX])[0]
        if styles:
            style = rng.choice(styles)
            dom = next(d for d in DOMAINS if d.style == style)
        else:
            dom = _pick_domain(rng, ("train", "single_class", "unseen"))
        corrupt = rng.random() < CORRUPT_SHARE
        out.append(_page(rng, f"http://{dom.host}/s/{tag}-{i}", dom, kind, mode, corrupt))
    return out


def write_messages(path: str, pages: list[Page]) -> None:
    """One parquet file with a single ``value`` string column."""
    table = pa.table({"value": pa.array([p.payload for p in pages], pa.string())})
    pq.write_table(table, path, compression="snappy")


def _serve_file(job: tuple[int, str, int, str]) -> list[Page]:
    seed, tag, n_pages, path = job
    pages = serve_pages(seed, tag, n_pages)
    write_messages(path, pages)
    return pages


def write_serve_files(seed: int, files: dict[str, tuple[str, int]]) -> dict[str, list[Page]]:
    """``files``: tag → (path, page count). Writes the serve messages of
    each file, a few files at a time in worker processes, and returns
    the pages of each tag. Each file depends only on (seed, tag, page
    count)."""
    jobs = [(seed, tag, n_pages, path) for tag, (path, n_pages) in files.items()]
    ctx = multiprocessing.get_context("fork")
    with ctx.Pool(min(len(jobs), os.cpu_count() or 1, 4)) as pool:
        pages = pool.map(_serve_file, jobs)
        pool.close()
        pool.join()
    return dict(zip(files, pages))


# --------------------------------------------------------------- lineitem
LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])


def write_lineitem(path: str, seed: int, n_rows: int) -> None:
    """Price observations: skewed product popularity, up to six stores
    per product, prices drawn from a few levels per product so that
    consecutive observations sometimes repeat, and a handful of NULL
    prices that every query must drop. Discounts are unrounded: on a
    decimal grid, bad_domain_analysis's band edges (0.93, 1.07) would
    see exact ties that the two engines' float sums break differently."""
    rng = np.random.default_rng(seed)
    n_parts = max(n_rows // 40, 10)
    n_supp = max(n_parts // 20, 10)
    part = (n_parts * rng.random(n_rows) ** 2).astype(np.int64) + 1
    supp = (part * 7 + rng.integers(0, 6, n_rows)) % n_supp + 1
    base_cents = rng.integers(500, 200_000, n_parts + 1)
    level = np.array([1.0, 0.95, 1.04, 1.1])[rng.integers(0, 4, n_rows)]
    price = np.round(base_cents[part] * level) / 100
    price_arr = pa.array(price, mask=rng.random(n_rows) < 0.0005)
    day = np.datetime64("1992-01-01") + rng.integers(0, 2_500, n_rows).astype("timedelta64[D]")
    rows = np.arange(n_rows, dtype=np.int64)
    table = pa.Table.from_arrays(
        [
            pa.array(rows // 4 + 1),
            pa.array(part),
            pa.array(supp),
            pa.array((rows % 4 + 1).astype(np.int32)),
            pa.array(rng.integers(1, 51, n_rows).astype(np.float64)),
            price_arr,
            pa.array(rng.random(n_rows) * 0.1),
            pa.array(rng.integers(0, 9, n_rows) / 100),
            pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_rows)]),
            pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_rows)]),
            pa.array(day.astype("datetime64[us]")),
        ],
        schema=LINEITEM_SCHEMA,
    )
    pq.write_table(table, path, row_group_size=250_000, compression="snappy")


def digest(paths: list[str]) -> str:
    """sha256 over the bytes of every generated file, in path order."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()[:16]
