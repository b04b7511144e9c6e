"""Seeded input generators for the three benchmark workloads.

Each generator writes parquet under a directory whose basename carries the
seed (and a per-run tag, see ``run.py``) and returns the facts the output
checks need: what was planted, which links each page carries.  The
program under test only ever sees the parquet files.

The same seed gives byte-identical files; a different seed gives different
text, hosts, plants and links.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Filler vocabulary: lowercase letters only, so no filler word can complete
# any matcher pattern (every pattern needs a quote, ':', '/', '.' or '(').
_SYL = [
    "ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "we",
    "xa", "yo", "ze", "bri", "cla", "dro", "fen", "gul", "hap", "jor",
]
VOCAB = [a + b + c for a in _SYL for b in _SYL for c in ("", "n", "st", "ly")]

# The twelve live matcher patterns, planted as ten fragment kinds (two
# kinds plant two patterns each). Each entry: fragment template and the
# (pattern, normalized value) pairs it yields.  ``{a}`` is 14 random
# [A-Z0-9] characters, ``{d}`` 12 random digits, ``{k}`` a small integer.
_B64 = "aHR0cHM6Ly9leGFtcGxlLmNvbS9hP2I"
PLANTS: list[tuple[str, list[tuple[str, str]]]] = [
    (' "AKIAJ{a}A" ', [("access_key_id", "AKIAJ{a}A")]),
    (" arn:aws:iam::{d}:role/r{k} ", [("arn", "arn:aws:iam::{d}:role/r{k}")]),
    (
        ' var p = "us-east-1_AbC123xYz"; amazon.Login.authorize( ',
        [
            ("user_pool_id", "us-east-1_AbC123xYz"),
            ("amazon_authorize", "amazon.Login.authorize("),
        ],
    ),
    (
        " https://bkt{k}.s3.amazonaws.com/assets ",
        [("s3_buckets", "https://bkt{k}.s3.amazonaws.com")],
    ),
    (
        f' <img src="https://t{{k}}.example/r/{_B64}"> ',
        [("safebase64_url", f"https://t{{k}}.example/r/{_B64}")],
    ),
    (
        ' "us-east-1:0a1b2c3d-0a1b-2c3d-4e5f-0a1b2c3d4e5f" ',
        [("identity_pool_id", "us-east-1:0a1b2c3d-0a1b-2c3d-4e5f-0a1b2c3d4e5f")],
    ),
    (
        ' "123456789012-abcdefghijklmnopqrstuvwxyz012345.apps.googleusercontent.com" ',
        [
            (
                "google_appid",
                "123456789012-abcdefghijklmnopqrstuvwxyz012345.apps.googleusercontent.com",
            )
        ],
    ),
    (
        ' "amzn1.application-oa2-client.0123456789abcdef0123456789abcdef"'
        " sts.assumeRoleWithWebIdentity( ",
        [
            (
                "amazon_appid",
                "amzn1.application-oa2-client.0123456789abcdef0123456789abcdef",
            ),
            ("assumerolewithwebidentity", "assumeRoleWithWebIdentity("),
        ],
    ),
    (
        ' "https://my-app.auth.us-east-1.amazoncognito.com/oauth2 ',
        [("cognito_domain", "https://my-app.auth.us-east-1.amazoncognito.com")],
    ),
    (
        ' "https://site.example/login?client_id=abcdefghij0123456789abcdef&r=1" ',
        [
            (
                "hosted_ui",
                "https://site.example/login?client_id=abcdefghij0123456789abcdef&",
            )
        ],
    ),
]

_ALNUM = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), salt])


def _filler(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """n distinct-ish filler texts of lo..hi-1 words each (Arrow-vectorized)."""
    lens = rng.integers(lo, hi, n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    idx = rng.integers(0, len(VOCAB), int(offsets[-1]))
    words = pa.array(VOCAB).take(pa.array(idx))
    lists = pa.LargeListArray.from_arrays(pa.array(offsets), words)
    return pc.binary_join(lists, " ").to_pylist()


def _plant(rng: np.random.Generator, kind: int) -> tuple[str, list[tuple[str, str]]]:
    tmpl, hits = PLANTS[kind]
    sub = {
        "a": "".join(rng.choice(_ALNUM, 14)),
        "d": "".join(str(x) for x in rng.integers(0, 10, 12)),
        "k": str(int(rng.integers(0, 50))),
    }
    return tmpl.format(**sub), [(p, v.format(**sub)) for p, v in hits]


def _splice(text: str, frag: str, rng: np.random.Generator) -> str:
    """Insert ``frag`` at a word boundary of ``text``."""
    spaces = [i for i, c in enumerate(text) if c == " "]
    if not spaces:
        return text + frag
    cut = spaces[int(rng.integers(0, len(spaces)))]
    return text[:cut] + frag + text[cut + 1 :]


def _plant_kinds(rng: np.random.Generator, n: int, frac: float) -> dict[int, int]:
    """page index → plant kind; the first ten planted pages cover every
    kind so each live pattern appears at least once."""
    pages = np.flatnonzero(rng.random(n) < frac)
    kinds = rng.integers(0, len(PLANTS), len(pages))
    kinds[: min(len(PLANTS), len(pages))] = np.arange(min(len(PLANTS), len(pages)))
    return dict(zip(pages.tolist(), kinds.tolist()))


def _write(table: pa.Table, path: str, row_groups: int) -> None:
    pq.write_table(
        table,
        path,
        row_group_size=max(1, -(-table.num_rows // row_groups)),
        compression="snappy",
    )


# -- grep_campaign ------------------------------------------------------------
@dataclass
class GrepInputs:
    path: str  # pages parquet file
    pages: int
    bytes: int
    total_hits: int
    hit_pages: int  # pages carrying a planted fragment
    # (pattern, value, domain) → (hit_count, top-3 URIs in (fetch_seq, url) order)
    rollup: dict = field(repr=False)


def grep_corpus(out_dir: str, seed: int, pages: int, hosts: int = 2000) -> GrepInputs:
    """Pages with distinct filler text; hosts Zipf-distributed with one
    mega-host taking ~30% of pages; ~1.5% of pages carry one planted
    fragment."""
    rng = _rng(seed, 1)
    mega = rng.random(pages) < 0.3
    rank = np.minimum(rng.zipf(1.3, pages), hosts - 1)
    host_id = np.where(mega, 0, rank)
    host = [f"h{h}.example" for h in host_id.tolist()]
    seq = rng.permutation(pages)  # fetch order is not file order
    url = [f"https://{h}/p/{s}" for h, s in zip(host, seq.tolist())]
    text = _filler(rng, pages, 20, 80)
    hits: list[tuple[str, str, str, int, str]] = []
    planted_pages = _plant_kinds(rng, pages, 0.015)
    for i, kind in planted_pages.items():
        frag, planted = _plant(rng, kind)
        text[i] = _splice(text[i], frag, rng)
        hits += [(p, v, host[i], int(seq[i]), url[i]) for p, v in planted]
    rollup: dict[tuple[str, str, str], tuple[int, list[str]]] = {}
    for key, grp in _group(hits).items():
        grp.sort(key=lambda h: (h[0], h[1]))
        uris = list(dict.fromkeys(u for _, u in grp))[:3]
        rollup[key] = (len(grp), uris)
    table = pa.table(
        {
            "url": url,
            "host": host,
            "fetch_seq": pa.array(seq, pa.int64()),
            "text": text,
        }
    )
    path = os.path.join(out_dir, "pages.parquet")
    os.makedirs(out_dir, exist_ok=True)
    _write(table, path, 16)
    return GrepInputs(
        path, pages, os.path.getsize(path), len(hits), len(planted_pages), rollup
    )


def _group(hits):
    out: dict = {}
    for p, v, d, seq, u in hits:
        out.setdefault((p, v, d), []).append((seq, u))
    return out


# -- crawl_rounds -------------------------------------------------------------
@dataclass
class CrawlInputs:
    pages_path: str
    seeds_path: str
    pages: int
    hosts: int
    bytes: int
    seeds: set = field(repr=False)
    links: dict = field(repr=False)  # url → set of linked corpus urls
    hits: dict = field(repr=False)  # url → number of planted matches


def crawl_corpus(
    out_dir: str,
    seed: int,
    hosts: int,
    per_host: int,
    links_per_page: int = 4,
    seed_frac: float = 0.25,
) -> CrawlInputs:
    """``hosts × per_host`` pages, every URL canonical. Each page links to
    ``links_per_page`` other corpus URLs (some already seeded, most not);
    ~20% of pages carry a planted fragment."""
    rng = _rng(seed, 2)
    n = hosts * per_host
    url = [f"https://c{i % hosts}.example/d/{i // hosts}" for i in range(n)]
    targets = rng.integers(0, n, (n, links_per_page))
    text = _filler(rng, n, 10, 40)
    hits = dict.fromkeys(url, 0)
    for i, kind in _plant_kinds(rng, n, 0.2).items():
        frag, planted = _plant(rng, kind)
        text[i] = _splice(text[i], frag, rng)
        hits[url[i]] = len(planted)
    links: dict[str, set[str]] = {}
    for i in range(n):
        out = [url[j] for j in targets[i].tolist() if j != i]
        links[url[i]] = set(out)
        text[i] += "".join(f' <a href="{u}">{VOCAB[j % len(VOCAB)]}</a>' for j, u in enumerate(out))
    seeds = np.flatnonzero(rng.random(n) < seed_frac)
    os.makedirs(out_dir, exist_ok=True)
    pages_path = os.path.join(out_dir, "pages.parquet")
    seeds_path = os.path.join(out_dir, "seeds.parquet")
    _write(pa.table({"url": url, "text": text}), pages_path, 8)
    seed_urls = [url[i] for i in seeds.tolist()]
    _write(pa.table({"url": seed_urls}), seeds_path, 1)
    return CrawlInputs(
        pages_path,
        seeds_path,
        n,
        hosts,
        os.path.getsize(pages_path),
        set(seed_urls),
        links,
        hits,
    )


# -- query_mix ----------------------------------------------------------------
_LANGS = ["en", "en", "de", "es", "fr", "zh"]


def mix_sf_dir(out_dir: str, seed: int, docs: int) -> str:
    """An sf dir holding only ``documents.parquet`` (the one table the mix
    queries read), shaped like the driver's sf tables: doc_id, text, lang,
    source, n_chars. About 5% of documents are near-copies of an earlier
    one (one word changed) and 1% exact copies, so the dedup queries have
    pairs to find. Rows are written in a seeded permuted order."""
    rng = _rng(seed, 3)
    text = _filler(rng, docs, 10, 100)
    for i in range(1, docs):
        r = rng.random()
        if r < 0.06:
            src = text[int(rng.integers(0, i))]
            if r >= 0.01:
                words = src.split(" ")
                words[int(rng.integers(0, len(words)))] = "dup"
                src = " ".join(words)
            text[i] = src
    order = rng.permutation(docs)
    ids = np.arange(docs)[order]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": [text[i] for i in ids.tolist()],
            "lang": [_LANGS[int(x)] for x in rng.integers(0, len(_LANGS), docs)],
            "source": [f"src{i % 20}" for i in ids.tolist()],
            "n_chars": pa.array([len(text[i]) for i in ids.tolist()], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    _write(table, os.path.join(out_dir, "documents.parquet"), 1)
    return out_dir
