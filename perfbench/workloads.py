"""The workloads. Each is a closed loop: one driver thread issues one
operation at a time, and the next starts only after the previous returns.
"""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass, field

import gen
import tracing as T

MIX_QUERIES = [
    "dedup_ngram_jaccard",
    "span_dedup",
    "dedup_minhash_lsh",
    "url_alias_map",
    "pld_link_graph",
    "wet_quality_corpus",
    "cdx_seen_warmstart",
    "warc_ranged_fetch",
]


@dataclass
class Op:
    seconds: float
    items: int  # pages, URLs or queries completed by this operation
    traced: bool = False
    kind: str = "op"  # operations of one kind are compared for tracing overhead
    attempted: int = 1
    failed: int = 0
    span: T.Span | None = None
    info: dict = field(default_factory=dict)


class Workload:
    """What run.py drives. ``prepare`` runs before the Spark session starts,
    ``setup`` after it (both count in setup_s); ``op`` is one timed
    operation; checks run outside the timed region."""

    name = ""

    def prepare(self, b) -> dict:
        """Generate the seeded inputs; returns their sizes for the report."""
        raise NotImplementedError

    def setup(self, b) -> None:
        """Program-side set-up and warm-up."""

    def op(self, b) -> Op:
        raise NotImplementedError

    def check_op(self, b, o: Op) -> None:
        """Per-operation output check; sets ``o.failed``."""

    def at_boundary(self, o: Op) -> bool:
        """Whether the timed loop may stop after ``o``."""
        return True

    def exhausted(self) -> bool:
        return False

    def final_checks(self, b) -> list[str]:
        """End-of-run output checks; any failure fails every operation."""
        return []

    def e2e(self, ops: list[Op]) -> dict:
        """End-to-end metrics (the generic names of BENCHMARK.json)."""
        ts = [o.seconds for o in ops]
        return {
            "throughput_per_s": sum(o.items for o in ops) / sum(ts),
            "op_s_p50": p50(ts),
            "op_s_p90": p90(ts),
        }

    def report(self, ops: list[Op]) -> dict:
        """The same numbers under workload-specific names, with units."""
        raise NotImplementedError

    def layers(self, b, ops: list[Op], jobs_by_span) -> dict:
        """Per-layer metrics of a traced run."""
        raise NotImplementedError

    def close(self) -> None:
        pass


def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def span_usage(b, spans: list[T.Span], jobs_by_span) -> T.Usage:
    """Spark work of the given spans and all their descendants."""
    items = [
        j
        for root in spans
        for s in T.subtree(b.tracer.spans, root)
        for j in jobs_by_span.get(s.id, [])
    ]
    return T.usage(items, spans)


def layers_common(b, ops: list[Op], jobs_by_span) -> tuple[dict, T.Usage, int]:
    """Driver- and source-layer metrics shared by every workload, per
    traced operation."""
    spans = [o.span for o in ops if o.traced and o.span is not None]
    n = len(spans)
    u = span_usage(b, spans, jobs_by_span)
    wall = sum(s.dur for s in spans)
    return (
        {
            "driver.jobs": _per(u.jobs, n),
            "driver.stages": _per(u.stages, n),
            "driver.tasks": _per(u.tasks, n),
            "driver.cores_busy_frac": u.task_s / (wall * b.cores) if wall else 0.0,
            "driver.gc_s": _per(u.gc_s, n),
            # span time during which no Spark job ran: planning, codegen,
            # result conversion and Python driver work
            "driver.unattributed_s": _per(wall - u.job_cover_s, n),
            "sources.scan_rows": _per(u.scan_rows, n),
            "sources.scan_bytes": _per(u.scan_bytes, n),
            "sources.scan_tasks": _per(u.scan_tasks, n),
            "sources.task_max_over_median": u.scan_skew,
        },
        u,
        n,
    )


# -- grep_campaign ------------------------------------------------------------
class GrepCampaign(Workload):
    """match_hits -> match_rollup + total_hits over a seeded corpus, full
    output collected and checked against what the generator planted."""

    name = "grep_campaign"
    PAGES = 120_000
    WARM_PASSES = 4  # Python workers, codegen, page cache, then JIT warm-up

    def prepare(self, b) -> dict:
        self.inp = gen.grep_corpus(b.path(f"grep_s{b.seed}_{b.tag}"), b.seed, self.PAGES)
        return {
            "pages": self.inp.pages,
            "parquet_bytes": self.inp.bytes,
            "planted_hits": self.inp.total_hits,
            "rollup_rows": len(self.inp.rollup),
        }

    def setup(self, b) -> None:
        from warcannon_spark.operators.matcher import match_hits
        from warcannon_spark.operators.rollup import match_rollup, total_hits

        self.fns = match_hits, match_rollup, total_hits
        for _ in range(self.WARM_PASSES):
            warm = self.op(b)
            self.check_op(b, warm)
            if warm.failed:
                raise RuntimeError("grep_campaign warm-up output differs from the planted set")

    def op(self, b) -> Op:
        match_hits, match_rollup, total_hits = self.fns
        tr = b.tracer
        t0 = b.clock()
        with tr.span("campaign") as sp:
            hits = match_hits(b.spark.read.parquet(self.inp.path), passthrough=["fetch_seq"])
            with tr.span("match_rollup"):
                rows = match_rollup(hits).collect()
            with tr.span("total_hits"):
                total = total_hits(hits).collect()[0][0]
        dt = b.clock() - t0
        if tr.enabled:
            # cumulative layers, each to the noop sink: the scan alone,
            # then scan + matcher, then the full rollup
            pages = b.spark.read.parquet(self.inp.path)
            with tr.span("leg.scan"):
                _noop(pages)
            with tr.span("leg.match"):
                _noop(match_hits(pages, passthrough=["fetch_seq"]))
            with tr.span("leg.rollup"):
                _noop(match_rollup(match_hits(pages, passthrough=["fetch_seq"])))
        info = {"rows": rows, "total": total}
        return Op(dt, self.inp.pages, tr.enabled, "pass", span=sp, info=info)

    def check_op(self, b, o: Op) -> None:
        got = {
            (r.pattern, r.value, r.domain): (r.hit_count, list(r.uris))
            for r in o.info.pop("rows")
        }
        if o.info.pop("total") != self.inp.total_hits or got != self.inp.rollup:
            o.failed = 1

    def report(self, ops: list[Op]) -> dict:
        e = self.e2e(ops)
        return {
            "grep.pages_per_s": (e["throughput_per_s"], "1/s"),
            "grep.pass_s_p50": (e["op_s_p50"], "s"),
            "grep.pass_s_p90": (e["op_s_p90"], "s"),
        }

    def layers(self, b, ops: list[Op], jobs_by_span) -> dict:
        out, u, n = layers_common(b, ops, jobs_by_span)
        legs: dict[str, list[float]] = {}
        for s in b.tracer.spans:
            if s.name.startswith("leg."):
                legs.setdefault(s.name[4:], []).append(s.dur)
        scan, match, roll = (p50(legs.get(k, [])) for k in ("scan", "match", "rollup"))
        return out | {
            "sources.scan_s": scan,
            "matcher.s": match - scan,
            "matcher.python_bytes_in": _per(u.py_sent, n),
            "matcher.python_bytes_out": _per(u.py_recv, n),
            "matcher.python_s": _per(u.py_s, n),
            # every scanned page crosses into Python once per action
            "matcher.hit_pages_per_crossed_page": (
                self.inp.hit_pages * n / u.py_rows if u.py_rows else 0.0
            ),
            "rollup.s": roll - match,
            "rollup.shuffle_bytes": _per(u.shuffle_bytes, n),
            "rollup.spill_bytes": _per(u.spill_bytes, n),
        }


# -- crawl_rounds -------------------------------------------------------------
class CrawlRounds(Workload):
    """CrawlEngine rounds over a linked, seeded corpus: every round leases a
    full batch (hosts x budget), fetches and matches it, discovers links
    through the Bloom + exact novel check, and commits four tables."""

    name = "crawl_rounds"
    HOSTS = 64
    PER_HOST = 480
    BUDGET = 16
    COMPACT_EVERY = 4
    WARM_ROUNDS = 2  # corpus cache and Bloom builds, then JIT warm-up

    def prepare(self, b) -> dict:
        self.inp = gen.crawl_corpus(
            b.path(f"crawl_s{b.seed}_{b.tag}"), b.seed, self.HOSTS, self.PER_HOST
        )
        # rounds stop well before any host could run short of pending URLs
        self.max_rounds = int(0.75 * self.PER_HOST / self.BUDGET)
        return {
            "pages": self.inp.pages,
            "hosts": self.HOSTS,
            "seeds": len(self.inp.seeds),
            "batch": self.HOSTS * self.BUDGET,
            "parquet_bytes": self.inp.bytes,
        }

    def setup(self, b) -> None:
        from warcannon_spark.plans.crawl import CrawlEngine

        spark = b.spark
        pages = spark.read.parquet(self.inp.pages_path)
        self.engine = CrawlEngine(
            spark,
            b.path("crawl_state"),
            pages=pages,
            budget_per_host=self.BUDGET,
            num_partitions=8,
            compact_every=self.COMPACT_EVERY,
            bloom_min_candidates=0,  # Bloom from the first round on
            cache_corpus=True,
        )
        est = int(pages._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        heap = int(spark.sparkContext._jvm.Runtime.getRuntime().maxMemory())
        b.inputs |= {
            "corpus_est_bytes": est,
            "cache_threshold_bytes": heap // 16,
            "corpus_cached": est <= heap // 16,
        }
        self.engine.seed(spark.read.parquet(self.inp.seeds_path))
        self.rounds: list[dict] = []
        for _ in range(self.WARM_ROUNDS):
            o = self.op(b)
            self.check_op(b, o)

    def exhausted(self) -> bool:
        return len(self.rounds) >= self.max_rounds

    def at_boundary(self, o: Op) -> bool:
        """Timed rounds end on a compaction round, so every run measures
        the same mix of plain and compacting rounds."""
        return "compact" in o.info.get("commit", {})

    def op(self, b) -> Op:
        e = self.engine
        t0 = b.clock()
        with b.tracer.span("run_round") as sp:
            stats = e.run_round()
        dt = b.clock() - t0
        info = {
            "stats": stats,
            "timings": dict(e.last_timings),
            "commit": dict(e.last_commit_timings),
        }
        if "compact" in info["commit"]:
            info["compact_bytes"] = _newest_dir_bytes(os.path.join(e.workdir, "frontier", "data"))
        self.rounds.append(stats)
        kind = "compaction" if "compact" in info["commit"] else "round"
        return Op(dt, stats["dequeued"], b.tracer.enabled, kind, span=sp, info=info)

    def check_op(self, b, o: Op) -> None:
        if o.info["stats"]["dequeued"] != self.HOSTS * self.BUDGET:
            o.failed = 1  # not a full batch

    def final_checks(self, b) -> list[str]:
        from pyspark.sql import functions as F

        e = self.engine
        fails = []
        rows = e.frontier().select(
            "canon_url", "url_hash", "status", "lease_round", "discovered_round"
        ).collect()
        self.frontier_rows = rows
        if len({r.url_hash for r in rows}) != len(rows):
            fails.append("frontier holds a url_hash twice")
        done = {r.canon_url for r in rows if r.status == "done"}
        leased = sum(s["dequeued"] for s in self.rounds)
        if leased != len(done) or any(r.status not in ("done", "pending") for r in rows):
            fails.append(f"leased {leased} URLs but {len(done)} are committed done")
        m = e.metrics().agg(
            F.sum("dequeued").alias("dq"),
            F.sum("pages_scanned").alias("ps"),
            F.sum("matches_total").alias("mt"),
        ).first()
        n_matches = e.matches().count()
        want_matches = sum(self.inp.hits[u] for u in done)
        round_matches = sum(s["matches"] for s in self.rounds)
        if not (m.dq == leased and m.ps == len(done) and m.mt == n_matches == round_matches == want_matches):
            fails.append(
                f"metrics table {tuple(m)} / matches table {n_matches} / rounds "
                f"{round_matches} / planted {want_matches} disagree"
            )
        known = {r.canon_url for r in rows}
        linked = set().union(*(self.inp.links[u] for u in done))
        if known - self.inp.seeds != linked - self.inp.seeds:
            fails.append("discovered set differs from the generator's link set")
        if sum(s["discovered"] for s in self.rounds) != len(known - self.inp.seeds):
            fails.append("round discovery counts do not sum to the discovered set")
        return fails

    def e2e(self, ops: list[Op]) -> dict:
        """As the base, except that the median is over every round with its
        compaction time taken out, so that all timed rounds are samples of
        it and not only the plain ones. p90 covers the compaction rounds."""
        plain = [o.seconds - o.info["commit"].get("compact", 0.0) for o in ops]
        return super().e2e(ops) | {"op_s_p50": p50(plain)}

    def report(self, ops: list[Op]) -> dict:
        e = self.e2e(ops)
        return {
            "crawl.urls_per_s": (e["throughput_per_s"], "1/s"),
            "crawl.round_s_p50": (e["op_s_p50"], "s"),
            "crawl.round_s_p90": (e["op_s_p90"], "s"),
            "crawl.compactions": (sum("compact" in o.info["commit"] for o in ops), "count"),
        }

    def layers(self, b, ops: list[Op], jobs_by_span) -> dict:
        out, u, n = layers_common(b, ops, jobs_by_span)
        traced = [o for o in ops if o.traced]

        def tm(stage: str, table: str = "timings") -> float:
            """Mean seconds per traced round of one engine-reported stage."""
            return _per(sum(o.info[table].get(stage, 0.0) for o in traced), n)

        # the engine times compaction itself, so untraced rounds count too
        # (a run traces rounds 3, 5 and 7; 4 and 8 compact)
        compacts = [o for o in ops if not o.failed and "compact" in o.info["commit"]]
        leased = sum(o.items for o in traced)
        # active (pending or leased) URLs at the start of round r, and link
        # candidates of the pages fetched in r, from the final frontier
        active, cand = {}, {}
        for r in self.frontier_rows:
            lr = r.lease_round if r.status == "done" else None
            for o in traced:
                rnd = o.info["stats"]["round"]
                if r.discovered_round < rnd and (lr is None or lr >= rnd):
                    active[rnd] = active.get(rnd, 0) + 1
                if lr == rnd:
                    cand[rnd] = cand.get(rnd, 0) + len(self.inp.links[r.canon_url])
        rounds = [o.info["stats"]["round"] for o in traced]
        return out | {
            "frontier.dequeue_s": tm("dequeue"),
            "frontier.leased_per_active": _per(leased, sum(active.get(r, 0) for r in rounds)),
            "crawl.fetch_match_s": tm("fetch_match"),
            "crawl.novel_check_s": tm("novel_check"),
            "crawl.table_writes_s": tm("table_writes"),
            "crawl.commit_s": tm("commit"),
            "tableio.flog_write_s": tm("flog_write", "commit"),
            "crawl.compact_s": p50([o.info["commit"]["compact"] for o in compacts]),
            "tableio.compact_bytes_rewritten": p50([o.info["compact_bytes"] for o in compacts]),
            "bloom.absorb_s": tm("bloom_absorb"),
            "bloom.novel_per_candidate": _per(
                sum(o.info["stats"]["discovered"] for o in traced),
                sum(cand.get(r, 0) for r in rounds),
            ),
            "tableio.bytes_written_per_url": _per(u.out_bytes, leased),
            "matcher.python_bytes_in": _per(u.py_sent, n),
            "matcher.python_bytes_out": _per(u.py_recv, n),
            "matcher.python_s": _per(u.py_s, n),
            # only the fetched batch crosses into Python
            "matcher.hit_pages_per_crossed_page": _per(
                sum(1 for r in self.frontier_rows if r.lease_round in rounds and self.inp.hits[r.canon_url]),
                leased,
            ),
        }

    def close(self) -> None:
        self.engine.close()


def _newest_dir_bytes(root: str) -> int:
    """Bytes under the most recently written child directory of ``root``."""
    root = max((os.path.join(root, k) for k in os.listdir(root)), key=os.path.getmtime)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


# -- query_mix ----------------------------------------------------------------
class QueryMix(Workload):
    """Eight catalogued queries in a fixed order, each to the noop sink, over
    a seeded documents table. The warm-up pass collects every result and
    checks it against the query's DuckDB oracle.

    Runs on demand (--workload query_mix) but is not listed in
    BENCHMARK.json: its warm-up alone takes ~30-45 s on 4 cores, which
    does not fit the benchmark's per-run time budget. Its mix.* layer
    metrics go to the trace file only."""

    name = "query_mix"
    DOCS = 600

    def prepare(self, b) -> dict:
        # the program keys its /tmp fixtures on this basename
        self.sf = gen.mix_sf_dir(b.path(f"mix_s{b.seed}_{b.tag}"), b.seed, self.DOCS)
        return {
            "documents": self.DOCS,
            "parquet_bytes": os.path.getsize(os.path.join(self.sf, "documents.parquet")),
            "queries": len(MIX_QUERIES),
        }

    def setup(self, b) -> None:
        from warcannon_spark.queries import QUERIES

        self.fns = {q: QUERIES[q] for q in MIX_QUERIES}
        self.results = {}
        warm = {}
        for q, fn in self.fns.items():
            t0 = b.clock()
            try:
                df = fn(b.spark, self.sf)
                self.results[q] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # recorded; the oracle check fails it
                self.results[q] = exc
            warm[q] = round(b.clock() - t0, 2)
        b.inputs["warm_s"] = warm

    def op(self, b) -> Op:
        times, failed = {}, 0
        with b.tracer.span("mix_pass") as sp:
            for q, fn in self.fns.items():
                t0 = b.clock()
                try:
                    with b.tracer.span(f"query.{q}"):
                        _noop(fn(b.spark, self.sf))
                except Exception:
                    failed += 1
                    continue
                times[q] = b.clock() - t0
        dt = sum(times.values())
        return Op(dt, len(times), b.tracer.enabled, "pass", len(self.fns), failed, sp, {"times": times})

    def final_checks(self, b) -> list[str]:
        import duckdb
        from warcannon_spark.queries import ORACLES

        con = duckdb.connect()
        path = os.path.join(self.sf, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        fails = []
        for q in MIX_QUERIES:
            got = self.results[q]
            if isinstance(got, Exception):
                fails.append(f"{q}: {type(got).__name__}: {got}"[:300])
                continue
            res = con.execute(ORACLES[q])
            ocols = [d[0] for d in res.description]
            if sorted(got[0]) != sorted(ocols) or row_multiset(*got) != row_multiset(ocols, res.fetchall()):
                fails.append(f"{q}: result differs from its DuckDB oracle")
        con.close()
        return fails

    def e2e(self, ops: list[Op]) -> dict:
        ts = [t for o in ops for t in o.info["times"].values()]
        return {
            "throughput_per_s": sum(o.items for o in ops) / sum(o.seconds for o in ops),
            "op_s_p50": p50(ts),
            "op_s_p90": p90(ts),
        }

    def query_medians(self, ops: list[Op]) -> dict[str, float]:
        return {
            q: p50([o.info["times"][q] for o in ops if q in o.info["times"]])
            for q in MIX_QUERIES
        }

    def report(self, ops: list[Op]) -> dict:
        e = self.e2e(ops)
        med = [t for t in self.query_medians(ops).values() if t > 0]
        return {
            "mix.wall_s": (p50([o.seconds for o in ops]), "s"),
            "mix.geomean_s": (math.exp(sum(map(math.log, med)) / len(med)) if med else 0.0, "s"),
            "mix.query_s_p50": (e["op_s_p50"], "s"),
            "mix.query_s_p90": (e["op_s_p90"], "s"),
        } | {f"mix.{q}_s": (t, "s") for q, t in self.query_medians(ops).items()}

    def layers(self, b, ops: list[Op], jobs_by_span) -> dict:
        out, _, _ = layers_common(b, ops, jobs_by_span)
        traced = [o for o in ops if o.traced]
        for q in MIX_QUERIES:
            spans = [s for s in b.tracer.spans if s.name == f"query.{q}"]
            n = len(spans)
            u = span_usage(b, spans, jobs_by_span)
            out |= {
                f"mix.{q}_s": p50([o.info["times"][q] for o in traced if q in o.info["times"]]),
                f"mix.{q}.jobs": _per(u.jobs, n),
                f"mix.{q}.shuffle_bytes": _per(u.shuffle_bytes, n),
                f"mix.{q}.python_bytes": _per(u.py_sent + u.py_recv, n),
                f"mix.{q}.spill_bytes": _per(u.spill_bytes, n),
            }
        return out


def normalize_cell(v) -> str:
    """Cell text for the order-insensitive result comparison (the same
    rules as the repository's oracle checker)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def row_multiset(cols: list[str], rows: list[tuple]) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out: dict[str, int] = {}
    for r in rows:
        key = "\x1f".join(normalize_cell(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


WORKLOADS = {w.name: w for w in (GrepCampaign, CrawlRounds, QueryMix)}
