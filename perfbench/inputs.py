"""Seeded benchmark inputs, cached on disk per (workload, seed, size).

Pages come from the package's own deterministic generator
(``sources.pages.synthesize_pages_stage``), run in-process with pandas so
no Spark job is needed; its ``text`` column is the golden extraction.
Everything else (crawl schedule, churn, mirror clusters) is drawn from
``random.Random(seed)``, so the same seed gives the same inputs.

Generation is test scaffolding and is never timed.
"""

from __future__ import annotations

import json
import math
import multiprocessing
import multiprocessing.resource_tracker
import os
import random
import shutil
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from cartography_spark.sources.pages import DOMAINS, synthesize_pages_stage

#: Pages are written as this many parquet files: a scan gets several splits per core.
N_FILES = 16
#: Near-duplicate bar the benchmark's mirrors must clear (char 3-shingle Jaccard).
MIRROR_MIN_JACCARD = 0.95


def _page_chunk(seed: int, ids: list[int]) -> pd.DataFrame:
    gen = synthesize_pages_stage(seed)
    return next(gen(iter([pd.DataFrame({"id": ids})])))


def generate_pages(seed: int, ids) -> pd.DataFrame:
    """Pages for ``ids``, built in one process per core (the generator is
    a per-page Python loop)."""
    ids = list(ids)
    n = min(len(os.sched_getaffinity(0)), max(1, len(ids) // 1000))
    if n == 1:
        pdf = _page_chunk(seed, ids)
    else:
        step = math.ceil(len(ids) / n)
        chunks = [(seed, ids[i : i + step]) for i in range(0, len(ids), step)]
        pool = multiprocessing.get_context("spawn").Pool(n)
        try:
            parts = pool.starmap(_page_chunk, chunks)
            pool.close()
        except BaseException:
            pool.terminate()
            raise
        finally:
            pool.join()
            _stop_resource_tracker()
        pdf = pd.concat(parts, ignore_index=True)
    pdf["domain"] = pdf["url"].str.split("/").str[2]
    return pdf


def _stop_resource_tracker() -> None:
    """Stop the resource-tracker process that the spawn pool started and
    wait for it; left alone, it lives until this process exits."""
    stop = getattr(multiprocessing.resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def write_parquet(pdf: pd.DataFrame, path: str, n_files: int = N_FILES) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    table = table.cast(
        pa.schema(
            [
                pa.field(f.name, pa.timestamp("us", tz="UTC"))
                if pa.types.is_timestamp(f.type)
                else f
                for f in table.schema
            ]
        )
    )
    step = math.ceil(len(pdf) / n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def reference_triples(text: str) -> list[tuple[str, str, str]]:
    """(subj, pred, obj) of every generator sentence ``"S p [p2] O."``,
    parsed by splitting, independently of the package's regex."""
    out = []
    for sent in text.split(". "):
        toks = sent.rstrip(".").split(" ")
        if len(toks) >= 3 and toks[0][:1].isupper() and toks[-1][:1].isupper():
            out.append((toks[0], "_".join(toks[1:-1]), toks[-1]))
    return out


def shingles(text: str, n: int = 3) -> set[str]:
    s = text.lower()
    return {s[i : i + n] for i in range(max(len(s) - n + 1, 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _cached(path: str, build) -> str:
    """Build ``path`` once, atomically (a crashed build leaves no half cache)."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


# ---------------------------------------------------------------- extract


def extract_inputs(work: str, seed: int, n_pages: int, n_crawls: int) -> str:
    """Pages parquet for the extract workload: ``n_crawls`` monthly crawls
    of the same ``n_pages`` urls (content unchanged, later ``warc_ts``),
    with the golden ``text`` column."""
    path = os.path.join(work, "inputs", f"extract-s{seed}-n{n_pages}-c{n_crawls}")

    def build(tmp: str) -> None:
        pdf = generate_pages(seed, range(n_pages)).drop(columns=["domain"])
        crawls = [
            pdf.assign(warc_ts=pdf["warc_ts"] + pd.Timedelta(days=30 * i)) for i in range(n_crawls)
        ]
        write_parquet(pd.concat(crawls, ignore_index=True), os.path.join(tmp, "pages"))

    return _cached(path, build)


# ---------------------------------------------------------------- sync_series


def _mirror(row: dict, j: int, domain: str) -> dict:
    base_id = row["url"].rsplit("/", 1)[1]
    html = row["html"].decode("utf-8").replace("</div>", f"<p>Mirror {j}.</p></div>", 1)
    return {
        **row,
        "url": f"https://{domain}/mirror/{base_id}-{j}",
        "domain": domain,
        "html": html.encode("utf-8"),
        "text": f"{row['text']} Mirror {j}.",
        "base": row["url"],
    }


def sync_inputs(work: str, seed: int, n_pages: int) -> str:
    """Crawl files for one full sync and one scoped re-crawl, and
    ``plan.json`` listing each crawl's tag, scope and urls.

    - Pages sit in Zipf-sized domains (the generator's skew).
    - About one page in 40 is the base of a mirror cluster. The base and
      its first near-copy (on a random domain) are in the full crawl;
      half of the clusters get a second copy as a new page of the
      re-crawl. Bases are picked so every pair of a cluster clears
      :data:`MIRROR_MIN_JACCARD`.
    - The re-crawl covers the hottest domain. It drops ~10% of the
      domain's live pages, adds ~10% new ones and re-stamps the rest
      (same content, later ``warc_ts``).
    """
    path = os.path.join(work, "inputs", f"sync-s{seed}-n{n_pages}")

    def build(tmp: str) -> None:
        rng = random.Random(seed)
        universe = generate_pages(seed, range(2 * n_pages)).to_dict("records")
        for r in universe:
            r["base"] = None

        def mirrorable(r: dict) -> bool:
            t = r["text"]
            return t.count(". ") >= 5 and all(
                jaccard(a, b) >= MIRROR_MIN_JACCARD
                for a, b in ((t, f"{t} Mirror 1."), (t, f"{t} Mirror 2."),
                             (f"{t} Mirror 1.", f"{t} Mirror 2."))
            )

        candidates = [r for r in universe[:n_pages] if mirrorable(r)]
        bases = rng.sample(candidates, min(len(candidates), max(2, n_pages // 40)))
        crawled = universe[:n_pages] + [_mirror(b, 1, rng.choice(DOMAINS)) for b in bases]
        rows = {r["url"]: r for r in crawled}
        counts = Counter(r["domain"] for r in crawled)
        dom = min(DOMAINS, key=lambda d: (-counts[d], d))

        cur = sorted(u for u, r in rows.items() if r["domain"] == dom)
        dropped = set(rng.sample(cur, len(cur) // 10))
        fresh = [r for r in universe[n_pages:] if r["domain"] == dom][: max(1, len(cur) // 10)]
        new = fresh + [_mirror(b, 2, dom) for b in bases[: len(bases) // 2]]
        rows.update({r["url"]: r for r in new})
        tag0 = 1_750_000_000
        plan = [
            {"tag": tag0, "scope": None, "urls": sorted(r["url"] for r in crawled)},
            {
                "tag": tag0 + 86400,
                "scope": dom,
                "urls": sorted((set(cur) - dropped) | {r["url"] for r in new}),
            },
        ]

        pages = pd.DataFrame(list(rows.values()))
        write_parquet(pages, os.path.join(tmp, "pages"), n_files=1)
        by_url = pages.set_index("url")
        for i, c in enumerate(plan):
            sel = by_url.loc[c["urls"], ["domain", "html", "warc_ts"]].reset_index()
            # re-stamped pages get a later crawl time; content is unchanged
            sel["warc_ts"] = sel["warc_ts"] + pd.Timedelta(days=i)
            write_parquet(sel, os.path.join(tmp, f"crawl-{i:02d}"))
        with open(os.path.join(tmp, "plan.json"), "w") as f:
            json.dump(plan, f)

    return _cached(path, build)
