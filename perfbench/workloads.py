"""The benchmark's workloads. Each one runs closed-loop from one Python
thread: one client, each call issued after the previous one returned.

A workload gets a :class:`Run` (session factory, tracer, seed, time
budget) and returns a :class:`Result`: the timings behind the
end-to-end metrics, the operations attempted and failed, and the store
directory (if any) for the per-layer counts.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd

import inputs as gen


@dataclass
class Run:
    seed: int
    seconds: float
    work: str
    tracer: Any
    new_session: Callable[[], Any]  # -> SparkSession (traced get_spark)


@dataclass
class Result:
    first_op_s: float
    op_s: list[float]
    series_s: float
    setup_s: list[float]
    #: wall time of the measured loop, checks excluded (the traced run's denominator)
    window_s: float
    attempted: int = 0
    failed: int = 0
    store_root: str | None = None
    user_bytes: int = 0
    info: dict[str, Any] = field(default_factory=dict)


class Ledger:
    """Counts operations and failed checks; a failure never aborts the
    other checks, and each is reported on stderr."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def op(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {name} {detail}", file=sys.stderr)


def _setups(run: Run, n: int = 5):
    """Start the session ``n`` times, each followed by one small job, and
    keep the last session. The first start launches the JVM; later ones
    restart the Spark context in it. Python workers and code paths warm
    up in the first measured operation (``first_op_s``)."""
    times, spark = [], None
    for _ in range(n):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = run.new_session()
        spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism).count()
        times.append(time.perf_counter() - t0)
    return spark, times


# ---------------------------------------------------------------- extract

EXTRACT_PAGES = 4000
#: Crawls of the same urls in the pages table (rows = pages x crawls).
EXTRACT_CRAWLS = 3
#: Passes after the first that ``series_s`` covers (a fixed amount of work).
EXTRACT_SERIES_PASSES = 4
#: Passes after the first that are still warming up and stay out of ``op_s``.
EXTRACT_WARM_PASSES = 1
#: Fewest passes a run makes: the series, and three samples for ``op_s``.
EXTRACT_MIN_PASSES = 5


def extract(run: Run) -> Result:
    """pages parquet -> extract_text -> extract_triples -> (s,p,o) weights
    -> noop sink. The first pass starts cold; later passes repeat for
    ``run.seconds`` (at least :data:`EXTRACT_SERIES_PASSES` of them), and
    ``op_s`` is the median of those after :data:`EXTRACT_WARM_PASSES`."""
    from pyspark.sql import Observation, functions as F

    from cartography_spark.functions import extract_text, extract_triples

    root = gen.extract_inputs(run.work, run.seed, EXTRACT_PAGES, EXTRACT_CRAWLS)
    pages_dir = os.path.join(root, "pages")
    golden = pd.read_parquet(pages_dir, columns=["url", "text"])
    ref = Counter(
        (u, *t) for u, text in zip(golden["url"], golden["text"]) for t in gen.reference_triples(text)
    )
    ref_weights = Counter()
    for (_, *spo), n in ref.items():
        ref_weights[tuple(spo)] += n
    ledger = Ledger()

    def weights(spark, path):
        pages = spark.read.parquet(path).drop("text")
        triples = extract_triples(extract_text(pages))
        return triples.groupBy("subj", "pred", "obj").agg(F.count("*").alias("w"))

    spark, setup_s = _setups(run)
    times: list[float] = []
    t_loop, t_start = time.perf_counter(), None
    while len(times) < EXTRACT_MIN_PASSES or time.perf_counter() - t_start < run.seconds:
        obs = Observation(f"pass{len(times)}")
        with run.tracer.span("extract.pass"):
            t0 = time.perf_counter()
            w = weights(spark, pages_dir).observe(
                obs, F.count(F.lit(1)).alias("rows"), F.sum("w").alias("triples")
            )
            w.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        if t_start is None:
            t_start = time.perf_counter()
        got = obs.get
        ledger.op(
            "extract.pass weights",
            got["rows"] == len(ref_weights) and got["triples"] == sum(ref_weights.values()),
            f"got {got}, want rows={len(ref_weights)} triples={sum(ref_weights.values())}",
        )
    window_s = time.perf_counter() - t_loop

    # Full output check, untimed: byte-identical text per url, and
    # triples P = R = 1.0 against the reference extraction.
    t_check = time.perf_counter()
    pages = spark.read.parquet(pages_dir).drop("text")
    text = extract_text(pages).select("url", F.md5("text").alias("md5")).toPandas()
    want = dict(zip(golden["url"], golden["text"].map(_md5)))
    bad = [u for u, m in zip(text["url"], text["md5"]) if want.get(u) != m]
    ledger.op("extract_text digest", not bad and len(text) == len(golden), f"{len(bad)} rows differ")
    got_t = extract_triples(extract_text(pages)).select("url", "subj", "pred", "obj").toPandas()
    got_c = Counter(zip(got_t["url"], got_t["subj"], got_t["pred"], got_t["obj"]))
    tp = sum((got_c & ref).values())
    precision = tp / max(sum(got_c.values()), 1)
    recall = tp / max(sum(ref.values()), 1)
    ledger.op("extract_triples P=R=1", precision == 1.0 and recall == 1.0, f"P={precision} R={recall}")
    checks_s = time.perf_counter() - t_check
    spark.stop()

    n_triples = sum(ref_weights.values())
    return Result(
        first_op_s=times[0],
        op_s=times[1 + EXTRACT_WARM_PASSES :],
        series_s=sum(times[: EXTRACT_SERIES_PASSES + 1]),
        setup_s=setup_s,
        window_s=window_s,
        attempted=ledger.attempted,
        failed=ledger.failed,
        info={
            "pages": EXTRACT_PAGES * EXTRACT_CRAWLS,
            "triples_per_pass": n_triples,
            "pass_s": times,
            "checks_s": checks_s,
            "triples_per_s": n_triples / statistics.median(times[1 + EXTRACT_WARM_PASSES :]),
        },
    )


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


# ---------------------------------------------------------------- sync_series

SYNC_PAGES = 300
#: Hash buckets per label: the store's sizing knob. One fits a store of
#: well under 1 MB; more only add files to every merge and read.
STORE_BUCKETS = 1
LINK_THRESHOLD = 0.8

READS = {
    "pages_per_domain": (
        "tuples",
        "SELECT scope_id, count(*) FROM graph_nodes WHERE label = 'Page' GROUP BY scope_id",
    ),
    "top_mentioned": (
        "tuples",
        "SELECT dst, count(*) AS n FROM graph_edges WHERE rel_label = 'MENTIONS' "
        "GROUP BY dst ORDER BY n DESC, dst LIMIT 5",
    ),
    "same_as_edges": (
        "value",
        "SELECT count(*) FROM graph_edges WHERE rel_label = 'SAME_AS'",
    ),
}


def _schemas():
    from cartography_spark.schema import (
        LinkDirection,
        NodeSchema,
        PropertyRef,
        RelSchema,
        TargetNodeMatcher,
    )

    domain = NodeSchema(label="Domain", properties={"id": PropertyRef("domain")})
    entity = NodeSchema(label="Entity", properties={"id": PropertyRef("name")})
    page = NodeSchema(
        label="Page",
        properties={
            "id": PropertyRef("url"),
            "warc_ts": PropertyRef("warc_ts"),
            "text": PropertyRef("text"),
        },
        sub_resource_relationship=RelSchema(
            rel_label="RESOURCE",
            target_node_label="Domain",
            target_node_matcher=TargetNodeMatcher({"id": PropertyRef("domain")}),
            direction=LinkDirection.INWARD,
        ),
        other_relationships=(
            RelSchema(
                rel_label="MENTIONS",
                target_node_label="Entity",
                target_node_matcher=TargetNodeMatcher(
                    {"id": PropertyRef("entities", one_to_many=True)}
                ),
            ),
        ),
    )
    return domain, entity, page


class Model:
    """What the store must hold after each sync, computed from the crawl
    plan and the generator's golden text alone."""

    def __init__(self, pages: pd.DataFrame):
        self.text = dict(zip(pages["url"], pages["text"]))
        self.base = dict(zip(pages["url"], pages["base"]))
        self.entities = {
            u: {x for s, _, o in gen.reference_triples(t) for x in (s, o)}
            for u, t in self.text.items()
        }
        self.domain = dict(zip(pages["url"], pages["domain"]))
        self.live: set[str] = set()
        self.seen_entities: set[str] = set()

    def apply(self, crawl: dict) -> None:
        """A crawl replaces the live pages of its scope (all, if None)."""
        scope = crawl["scope"]
        kept = {u for u in self.live if scope is not None and self.domain[u] != scope}
        self.live = kept | set(crawl["urls"])
        for u in crawl["urls"]:
            self.seen_entities |= self.entities[u]

    def node_keys(self, domains) -> set:
        return (
            {("Domain", d) for d in domains}
            | {("Entity", e) for e in self.seen_entities}
            | {("Page", u) for u in self.live}
        )

    def edge_keys(self) -> set:
        out = {("RESOURCE", self.domain[u], u) for u in self.live}
        out |= {("MENTIONS", u, e) for u in self.live for e in self.entities[u]}
        return out

    def seeded_pairs(self, batch: set[str]) -> set:
        """Mirror pairs (src < dst) among live pages with at least one
        page in ``batch``: what incremental linking of ``batch`` must find."""
        clusters: dict[str, list[str]] = {}
        for u in self.live:
            b = self.base.get(u)
            if b:
                clusters.setdefault(b, []).append(u)
        out = set()
        for b, ms in clusters.items():
            members = sorted(ms + ([b] if b in self.live else []))
            out |= {
                (a, c)
                for i, a in enumerate(members)
                for c in members[i + 1 :]
                if a in batch or c in batch
            }
        return out


def _components(edges) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@dataclass
class StoreState:
    """What the checks remember from one sync to the next."""

    firstseen: dict[str, Any] = field(default_factory=dict)
    canon: dict[str, str] = field(default_factory=dict)
    same_as: set[tuple[str, str]] = field(default_factory=set)


def _check_sync(
    store, model: Model, prev: StoreState, batch: set[str] | None, ledger: Ledger, step: str
):
    """Checks after ``step``; ``batch`` is the set of pages linked after
    the sync (None when none were)."""
    from pyspark.sql import functions as F

    from cartography_spark.sources.pages import DOMAINS

    nodes = store.read_nodes().select(
        "label", "id", "firstseen", F.element_at("props", "canonical_id").alias("canon")
    ).toPandas()
    edges = store.read_edges().select("rel_label", "src", "dst").toPandas()
    got_nodes = set(zip(nodes["label"], nodes["id"]))
    want_nodes = model.node_keys(DOMAINS)
    ledger.op(
        f"{step} node keys",
        got_nodes == want_nodes,
        f"missing={len(want_nodes - got_nodes)} extra={len(got_nodes - want_nodes)}",
    )
    plain = edges[edges["rel_label"] != "SAME_AS"]
    got_edges = set(zip(plain["rel_label"], plain["src"], plain["dst"]))
    want_edges = model.edge_keys()
    ledger.op(
        f"{step} edge keys",
        got_edges == want_edges,
        f"missing={len(want_edges - got_edges)} extra={len(got_edges - want_edges)}",
    )

    pages = nodes[nodes["label"] == "Page"]
    state = StoreState(
        firstseen=dict(zip(pages["id"], pages["firstseen"])),
        canon={u: c for u, c in zip(pages["id"], pages["canon"]) if c is not None},
    )
    kept = [u for u in state.firstseen if u in prev.firstseen]
    moved = [u for u in kept if state.firstseen[u] != prev.firstseen[u]]
    ledger.op(f"{step} firstseen kept", not moved, f"{len(moved)} of {len(kept)} changed")

    same = edges[edges["rel_label"] == "SAME_AS"]
    state.same_as = set(zip(same["src"], same["dst"]))
    if batch is not None:
        missing = model.seeded_pairs(batch) - state.same_as
        ledger.op(f"{step} mirror pairs found", not missing, f"missing {sorted(missing)[:3]}")
        low = [
            (a, b) for a, b in state.same_as
            if gen.jaccard(model.text[a], model.text[b]) < LINK_THRESHOLD
        ]
        ledger.op(f"{step} SAME_AS pairs >= threshold", not low, f"{low[:3]}")
        comp = _components(state.same_as)
        wrong = [u for u, root in comp.items() if state.canon.get(u) != root]
        ledger.op(
            f"{step} canonical_id = component min", not wrong, f"{len(wrong)} wrong: {wrong[:2]}"
        )
    return state


def _tombstone_files(store_root: str) -> int:
    """Delete files the store's current manifests reference."""
    with open(os.path.join(store_root, "CURRENT")) as f:
        cur = json.load(f)
    n = 0
    for table in ("nodes", "edges"):
        if cur.get(table):
            with open(os.path.join(store_root, "manifests", table, f"{cur[table]}.json")) as f:
                n += len(json.load(f).get("deletes", []))
    return n


def _check_reads(out: dict, model: Model, n_same_as: int, ledger: Ledger, i: int) -> None:
    per_domain = Counter(model.domain[u] for u in model.live)
    ledger.op(f"reads[{i}] pages_per_domain", dict(out["pages_per_domain"]) == dict(per_domain))
    mentions = Counter(e for u in model.live for e in model.entities[u])
    top = sorted(mentions.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    ledger.op(f"reads[{i}] top_mentioned", [tuple(r) for r in out["top_mentioned"]] == top)
    ledger.op(f"reads[{i}] same_as_edges", out["same_as_edges"] == n_same_as)


def sync_series(run: Run) -> Result:
    """One full sync of a crawl into an empty store, then a scoped
    re-crawl sync of the hottest domain, incremental linking of the
    re-crawled pages, and a compaction.

    Every sync is Get/Transform/Load (Domain, Entity and Page nodes,
    RESOURCE and MENTIONS edges) and Cleanup (scoped sweep, then
    ``maybe_compact`` under the store's default policy). After the
    re-crawl, its pages are linked against the stored corpus (MinHash-LSH
    blocking, Jaccard verify, connected components), as
    ``cli.py link --incremental`` does. A fixed batch of reads follows
    each sync (after the re-crawl, the linking too), so the second batch
    merges the sweep's tombstones in. The series ends with the
    maintenance compaction that folds those tombstones away.
    """
    from pyspark.sql import functions as F

    from cartography_spark.functions import extract_text, extract_triples
    from cartography_spark.pipeline import Sync, link_entities_incremental, load
    from cartography_spark.sources.pages import DOMAINS
    from cartography_spark.store import GraphStore, reads

    tr = run.tracer
    root = gen.sync_inputs(run.work, run.seed, SYNC_PAGES)
    with open(os.path.join(root, "plan.json")) as f:
        plan = json.load(f)
    model = Model(pd.read_parquet(os.path.join(root, "pages")))
    domain_s, entity_s, page_s = _schemas()
    load_t = tr.wrap("pipeline.load", load)
    link_t = tr.wrap("pipeline.link_entities_incremental", link_entities_incremental)
    read_fns = {
        "tuples": tr.wrap("store.read", reads.read_list_of_tuples),
        "value": tr.wrap("store.read", reads.read_single_value),
    }
    ledger = Ledger()
    spark, setup_s = _setups(run)

    store_root = os.path.join(run.work, "store")
    shutil.rmtree(store_root, ignore_errors=True)
    store = GraphStore(spark, store_root, n_buckets=STORE_BUCKETS)
    for name in ("merge_nodes", "merge_edges", "sweep", "maybe_compact"):
        setattr(store, name, tr.wrap(f"store.{name}", getattr(store, name)))

    def build_sync(i: int, crawl: dict) -> Sync:
        scope = crawl["scope"]
        crawl_dir = os.path.join(root, f"crawl-{i:02d}")

        def stage_domains(st, tag, **_):
            doms = DOMAINS if scope is None else [scope]
            df = spark.createDataFrame([(d,) for d in doms], "domain string")
            return load_t(st, domain_s, df, tag)

        def stage_pages(st, tag, **_):
            text = extract_text(spark.read.parquet(crawl_dir)).cache()
            ents = extract_triples(text).select(
                "url", F.explode(F.array("subj", "obj")).alias("name")
            )
            out = {"entities": load_t(st, entity_s, ents.select("name").distinct(), tag)}
            per_url = ents.groupBy("url").agg(F.array_sort(F.collect_set("name")).alias("entities"))
            rows = text.join(per_url, "url", "left").select(
                "url", "domain", F.col("warc_ts").cast("string").alias("warc_ts"), "text",
                "entities",
            )
            out["pages"] = load_t(st, page_s, rows, tag)
            text.unpersist()
            return out

        def stage_cleanup(st, tag, **_):
            out = st.sweep(page_s, tag, scope_id=scope) if scope is not None else {}
            out["compacted"] = sorted(st.maybe_compact())
            return out

        stages = [("domains", stage_domains), ("pages", stage_pages), ("cleanup", stage_cleanup)]
        sync = Sync(store)
        for name, fn in stages:
            sync.add_stage(name, fn)
        return sync

    sync_s: list[float] = []
    link_s: list[float] = []
    read_s: list[float] = []
    tombstones: list[int] = []  # delete files each batch of reads merged in
    compacted: list[list[str]] = []
    compact_s = None
    state = StoreState()
    checks_s = 0.0
    t_series = time.perf_counter()
    for i, crawl in enumerate(plan):
        linked = crawl["scope"] is not None
        t0 = time.perf_counter()
        try:
            with tr.span("sync.run"):
                done = build_sync(i, crawl).run(update_tag=crawl["tag"])
            sync_s.append(time.perf_counter() - t0)
            if linked:
                t0 = time.perf_counter()
                link_t(store, "Page", "text", crawl["tag"], threshold=LINK_THRESHOLD)
                link_s.append(time.perf_counter() - t0)
            with tr.span("sync.reads"):
                t0 = time.perf_counter()
                out = {k: read_fns[kind](store, q) for k, (kind, q) in READS.items()}
                read_s.append(time.perf_counter() - t0)
        except Exception:  # noqa: BLE001 - a failed step is counted and ends the series
            traceback.print_exc()
            ledger.op(f"sync[{i}] ran", False)
            if len(sync_s) == i:
                sync_s.append(time.perf_counter() - t0)
            break
        t_check = time.perf_counter()
        tombstones.append(_tombstone_files(store_root))
        compacted.append(done["stages"]["cleanup"]["compacted"])
        model.apply(crawl)
        state = _check_sync(
            store, model, state, set(crawl["urls"]) if linked else None, ledger, f"sync[{i}]"
        )
        _check_reads(out, model, len(state.same_as), ledger, i)
        checks_s += time.perf_counter() - t_check
    else:
        # maintenance: compact every table that carries tombstones
        t0 = time.perf_counter()
        compacted.append(sorted(store.maybe_compact(max_delete_files=0)))
        compact_s = time.perf_counter() - t0
        t_check = time.perf_counter()
        ledger.op("compaction folds every tombstone", _tombstone_files(store_root) == 0)
        after = _check_sync(store, model, state, None, ledger, "compaction")
        ledger.op(
            "compaction keeps SAME_AS and canonical_id",
            after.same_as == state.same_as and after.canon == state.canon,
        )
        checks_s += time.perf_counter() - t_check
    series_s = time.perf_counter() - t_series - checks_s
    spark.stop()

    user_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for i in range(len(plan))
        for dp, _, fs in os.walk(os.path.join(root, f"crawl-{i:02d}"))
        for f in fs
    )
    return Result(
        first_op_s=sync_s[0],
        # the incremental step: the re-crawl sync and the linking after it
        op_s=[s + ln for s, ln in zip(sync_s[1:], link_s)] or sync_s,
        series_s=series_s,
        setup_s=setup_s,
        window_s=series_s,
        attempted=ledger.attempted,
        failed=ledger.failed,
        store_root=store_root,
        user_bytes=user_bytes,
        info={
            "sync_s": sync_s,
            "link_s": link_s,
            "read_s": read_s,
            "compact_s": compact_s,
            "tombstone_files": tombstones,
            "compacted": compacted,
            "checks_s": checks_s,
            "pages_live": len(model.live),
        },
    )


WORKLOADS = {"extract": extract, "sync_series": sync_series}
