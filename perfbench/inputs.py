"""Seeded inputs for the two crawl workloads.

Both workloads start from ``sources.corpus.generate_corpus`` (planted
exact / near95 / near90 / near80 / near50 families, half of the pages
html-only). ``crawl_mirrors`` adds mirror/template families on top: base
pages copied many times with 1-2 token edits, so the copies survive the
exact-duplicate collapse and fill LSH buckets past ``bucket_cap``.

The traced run also feeds the same pages through the incremental path,
split across epochs at random so planted families straddle epoch
boundaries.

Every input gets a sha256 digest so that a change to the generator reads
as a changed workload, not as a speed change.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are set by the run budget: one untraced invocation (cold JVM,
# warm-up, two measured pipeline runs, checks) has to finish in about a
# minute on a 4-core machine. Most of a run's time here is per-job
# overhead: halving the pages cut a run by only ~10%.
SHAPES = {
    # long pages, few duplicates: extraction and signatures dominate
    "crawl_long": dict(n_base=1800, min_tokens=1000, max_tokens=3000, families=0),
    # short pages plus mirror families: band explode, pairing, verify, CC.
    # The generator's planted levels substitute at least one token, so its
    # pages need >= ~50 tokens to keep near80 pairs at J >= 0.8; the
    # mirror families (not part of recall) are 20-80 tokens.
    "crawl_mirrors": dict(n_base=1000, min_tokens=60, max_tokens=100, families=48),
}
MIRROR_TOKENS = (20, 80)
# copies per family: evenly spread over this range and shuffled, so the
# page count (and with it norm_docs_per_s) does not vary with the seed
MIRROR_COPIES = (40, 140)
EPOCHS = 2
DUP_KINDS = ("exact", "near95", "near90", "near80")

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass
class CrawlInput:
    pages: pd.DataFrame  # url, warc_ts, html, text, lang
    truth: pd.DataFrame  # src, dst, kind
    epoch_of: np.ndarray  # epoch index per page row
    digest: str


def _mirror_families(
    rng: np.random.Generator, vocab: np.ndarray, families: int, lo: int, hi: int
) -> tuple[list[dict], list[tuple[str, str, str]]]:
    from name_deduplication_python_spark.functions.text_extract import wrap_html

    rows: list[dict] = []
    pairs: list[tuple[str, str, str]] = []
    t0 = pd.Timestamp("2024-06-01", tz="UTC")
    sizes = rng.permutation(np.linspace(*MIRROR_COPIES, families).round().astype(int))
    for f, copies in enumerate(sizes):
        base = rng.choice(vocab, size=int(rng.integers(lo, hi)))
        lang = ["en", "es", "de", "fr"][f % 4]
        base_url = f"https://mirror{f:03d}.example.net/page/0"
        for c in range(copies + 1):
            toks = base.copy()
            if c:
                n_edit = int(rng.integers(1, 3))
                pos = rng.choice(len(toks), size=n_edit, replace=False)
                toks[pos] = rng.choice(vocab, size=n_edit)
            url = f"https://mirror{f:03d}.example.net/page/{c}"
            text = " ".join(toks)
            rows.append(
                {
                    "url": url,
                    "warc_ts": t0 + pd.Timedelta(seconds=int(rng.integers(0, 10**7))),
                    "html": wrap_html(text, title=f"mirror {f}", lang=lang),
                    "text": text if rng.random() < 0.5 else None,
                    "lang": lang,
                }
            )
            if c:
                pairs.append((base_url, url, "mirror"))
    return rows, pairs


def make_crawl(workload: str, seed: int) -> CrawlInput:
    """Deterministic pages + planted truth for (workload, seed)."""
    from name_deduplication_python_spark.sources.corpus import generate_corpus

    shape = SHAPES[workload]
    pages, truth = generate_corpus(
        n_base=shape["n_base"],
        seed=seed,
        min_tokens=shape["min_tokens"],
        max_tokens=shape["max_tokens"],
    )
    rng = np.random.default_rng([seed, 7919])
    if shape["families"]:
        texts = pages["text"].dropna()
        vocab = np.unique(np.concatenate([t.split(" ") for t in texts[:500]]))
        rows, pairs = _mirror_families(rng, vocab, shape["families"], *MIRROR_TOKENS)
        pages = pd.concat([pages, pd.DataFrame(rows)], ignore_index=True)
        truth = pd.concat(
            [truth, pd.DataFrame(pairs, columns=truth.columns)], ignore_index=True
        )
    pages = pages.sample(frac=1.0, random_state=seed % 2**32).reset_index(drop=True)
    epoch_of = rng.integers(0, EPOCHS, size=len(pages))
    return CrawlInput(pages, truth, epoch_of, _digest(pages, truth, epoch_of))


def _digest(pages: pd.DataFrame, truth: pd.DataFrame, epoch_of: np.ndarray) -> str:
    h = hashlib.sha256()
    for col in ("url", "text", "lang"):
        for v in pages[col]:
            h.update(b"\x00" if v is None else v.encode())
            h.update(b"\x1f")
    for v in pages["html"]:
        h.update(v)
    h.update(pages["warc_ts"].astype("int64").to_numpy().tobytes())
    for col in truth.columns:
        h.update("\x1f".join(truth[col]).encode())
    h.update(np.asarray(epoch_of, dtype=np.int64).tobytes())
    return h.hexdigest()


def write_pages(pages: pd.DataFrame, path: str, files: int = 8) -> None:
    """Write pages as `files` parquet files, so scans fan out to every
    core."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pages, schema=PAGES_SCHEMA, preserve_index=False)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total
