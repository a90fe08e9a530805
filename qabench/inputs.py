"""Seeded benchmark inputs.

Every input row comes from `sources.pages.pages_pandas`, whose content is a
pure function of the row id, so any doc can be re-derived and checked
against the pandas oracle. The seed selects a disjoint id window (offset =
window index × corpus size) and every other random choice of a run: the
rows moved onto the hot host, the chunks whose manifests are dropped, the
oracle sample. Nothing here is timed.

Tables are written as plain, unbucketed parquet (what a user hands
`cli.main --input`) and cached under the checkout, keyed by
(workload, seed, size), so a repeated seed skips generation.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Seeds are folded onto this many windows so ids stay far from int64
# overflow in the generator's id × 2654435761 hash.
ID_WINDOWS = 4096
HOT_HOST = "hot.example.org"
N_FILES = 8  # input parquet files: enough splits for local[4] scans
CACHE_KEEP = 6  # cached tables kept per checkout (oldest evicted)


@dataclass(frozen=True)
class Inputs:
    """One generated input table plus the facts the output checks need."""

    path: str  # parquet directory
    n_rows: int  # rows in the table
    n_scope: int  # rows inside the workload's window/cohort scope
    sample: pd.DataFrame  # seed-chosen in-scope rows (url, warc_ts, text, lang)


def rng(seed: int, stream: int) -> np.random.Generator:
    """The seed's random stream for one choice (1 hot rows, 2 oracle
    sample, 3 dropped chunks), independent of the others."""
    return np.random.default_rng([seed % 2**32, stream])


def id_window(seed: int, n: int) -> np.ndarray:
    """The seed's disjoint id range of length n."""
    return (seed % ID_WINDOWS) * n + np.arange(n, dtype=np.int64)


def in_scope(pdf: pd.DataFrame, window, langs) -> np.ndarray:
    """pandas twin of plans.pipeline.scope_filter (inclusive window)."""
    mask = pdf["warc_ts"].notna().to_numpy()
    if window is not None:
        lo, hi = (pd.Timestamp(x) for x in window)
        ts = pdf["warc_ts"]
        mask &= ((ts >= lo) & (ts <= hi)).to_numpy()
    if langs is not None:
        mask &= pdf["lang"].isin(list(langs)).to_numpy()
    return mask


def generate(n: int, seed: int, hot_frac: float = 0.0) -> pd.DataFrame:
    """Pages for the seed's id window; with `hot_frac`, a seed-chosen share
    of the rows has its url host rewritten to HOT_HOST (text untouched)."""
    from isimip_qa_spark.sources.pages import pages_pandas

    pdf = pages_pandas(id_window(seed, n))
    if hot_frac:
        rows = rng(seed, 1).choice(n, size=int(n * hot_frac), replace=False)
        urls = pdf["url"].to_numpy(dtype=object)
        urls[rows] = [
            f"https://{HOT_HOST}/" + u.split("/", 3)[3] for u in urls[rows]
        ]
        pdf["url"] = urls
    return pdf


def _write(pdf: pd.DataFrame, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False).cast(
        pa.schema(
            [
                ("url", pa.string()),
                ("warc_ts", pa.timestamp("us")),
                ("html", pa.binary()),
                ("text", pa.string()),
                ("lang", pa.string()),
            ]
        )
    )
    step = -(-len(pdf) // N_FILES)
    for i in range(N_FILES):
        pq.write_table(
            tbl.slice(i * step, step), os.path.join(tmp, f"part-{i:05d}.parquet")
        )
    os.replace(tmp, path)


def _evict(cache_dir: str, keep: str) -> None:
    entries = [
        os.path.join(cache_dir, e)
        for e in os.listdir(cache_dir)
        if os.path.join(cache_dir, e) != keep
    ]
    entries.sort(key=os.path.getmtime)
    for e in entries[: max(0, len(entries) - (CACHE_KEEP - 1))]:
        shutil.rmtree(e, ignore_errors=True)


def prepare(
    cache_dir: str,
    workload: str,
    seed: int,
    n: int,
    hot_frac: float = 0.0,
    window=None,
    langs=None,
    n_sample: int = 1000,
) -> Inputs:
    """Generate (or reuse) the workload's table and its check facts."""
    entry = os.path.join(cache_dir, f"{workload}-s{seed}-n{n}")
    table = os.path.join(entry, "pages")
    sample_path = os.path.join(entry, "sample.parquet")
    facts = os.path.join(entry, "facts.json")
    os.makedirs(cache_dir, exist_ok=True)
    if not os.path.isfile(facts):  # written last: its presence marks a whole entry
        shutil.rmtree(entry, ignore_errors=True)
        pdf = generate(n, seed, hot_frac)
        os.makedirs(entry)
        _write(pdf, table)
        mask = in_scope(pdf, window, langs)
        scoped = np.nonzero(mask)[0]
        pick = np.sort(rng(seed, 2).choice(scoped, size=min(n_sample, len(scoped)),
                                           replace=False))
        pdf.iloc[pick][["url", "warc_ts", "text", "lang"]].to_parquet(
            sample_path, index=False
        )
        with open(facts, "w") as f:
            json.dump({"n_scope": int(mask.sum())}, f)
    os.utime(entry)
    _evict(cache_dir, entry)
    with open(facts) as f:
        n_scope = json.load(f)["n_scope"]
    return Inputs(table, n, n_scope, pd.read_parquet(sample_path))
