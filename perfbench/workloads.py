"""The three workloads. Each is a class with the same calls:

    setup(tr)       one set-up of the program state the workload needs
    warm()          untimed passes of the workload's operation
    op(i, tr)       operation i of the seeded stream -> (latency_s, ok)
    op_kind(i)      the kind of operation i: its query shape, or one kind
    traced(tr)      reset before the traced replay of the same operations
    layers(tr)      per-layer metrics from the replay's spans
    named(lat, s)   the workload's own end-to-end figures, with units

`op` times only the program's public calls; the output check runs after
the clock stops. A failed or wrong operation returns ok=False (a raised
exception counts the same) and never aborts the run.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback

from kr_spark.entry_queries import derive_triples
from kr_spark.kb import KB, TRIPLE_SCHEMA
from kr_spark.pipeline.materialize import (
    ingest_transcripts,
    materialize_triples,
    read_manifests,
    run_extract_stage,
)
from kr_spark.pipeline.transcripts import (
    TURNS_PER_CONV,
    generate_ground_truth,
    transcripts_from_ids,
)

from queries import BASE_TRIPLES_SQL, NS, SEGMENTS, SHAPES, SHAPES_BY_NAME, Oracle, stream
from tracing import NullTracer

PLAN_SPANS = ("kb.plan", "kb.construct")


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under path; hidden and _-prefixed files (Spark
    and Hadoop bookkeeping) count towards bytes but not files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += not n.startswith((".", "_"))
    return total, files


def med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def p50_by_kind(lat: list[float], kinds: list[str]) -> float:
    """Median over operation kinds of each kind's median latency; for one
    kind, the median. The query mix runs every shape equally often and the
    shapes' latencies form separate clusters, so the pooled median sits on
    the edge between two clusters and jumps between them from run to run
    (IQR/median 0.22 over ten seeds, against 0.15 for this figure)."""
    by_kind: dict[str, list[float]] = {}
    for x, kind in zip(lat, kinds):
        by_kind.setdefault(kind, []).append(x)
    return med(med(v) for v in by_kind.values())


def pct(values, q: float) -> float:
    """q-th percentile with linear interpolation between order statistics."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _log_failure(what: str) -> None:
    print(f"[perfbench] {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


def traced_kb(kb: KB, tr) -> KB:
    """Spans around the KB calls that compile a query: `plan` (all pattern
    queries go through it) and `construct` (which compiles directly)."""
    kb.plan = tr.wrap("kb.plan", kb.plan)
    kb.construct = tr.wrap("kb.construct", kb.construct)
    return kb


def query_layers(tr, shapes) -> dict:
    """query.{plan,exec}_* per shape: plan = the compile spans inside the
    operation, exec = the operation's self time and self jobs."""
    out = {}
    for s in shapes:
        ops = tr.by_name(f"query.{s.name}")
        kids = {r["id"]: [] for r in ops}
        for r in tr.spans:
            if r["parent"] in kids and r["name"] in PLAN_SPANS:
                kids[r["parent"]].append(r)
        out[f"query.plan_s.{s.name}"] = med(sum(k["dur"] for k in kids[r["id"]]) for r in ops)
        out[f"query.plan_jobs.{s.name}"] = med(
            sum(len(k["jobs"]) for k in kids[r["id"]]) for r in ops
        )
        out[f"query.exec_s.{s.name}"] = med(r["self"] for r in ops)
        out[f"query.exec_jobs.{s.name}"] = med(r["self_jobs"] for r in ops)
        out[f"query.exec_stages.{s.name}"] = med(r["self_stages"] for r in ops)
        out[f"query.shuffle_bytes.{s.name}"] = med(r["self_shuffle_bytes"] for r in ops)
    return out


def _setup_layers(tr) -> dict:
    out = {}
    for name in ("kb.build", "kb.stats"):
        spans = tr.by_name(name)
        out[f"{name}_s"] = med(r["dur"] for r in spans)
        out[f"{name}_jobs"] = med(len(r["jobs"]) for r in spans)
    return out


class QueryMix:
    """Warm KB, closed-loop stream of seeded query shapes."""

    min_ops = len(SHAPES)
    cycle = len(SHAPES)

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.kb = None
        self.stream = stream(ctx.seed, n_cycles=400)
        self.oracle = Oracle(ctx.tables)

    def setup(self, tr) -> None:
        spark = self.ctx.spark
        with tr.span("kb.build"):
            kb = KB(
                spark,
                df=derive_triples(spark, self.ctx.tables_dir)
                .select(*TRIPLE_SCHEMA.fieldNames())
                .localCheckpoint(),
            )
        with tr.span("kb.stats"):
            kb.predicate_stats()
        kb.register_namespaces(NS)
        self.kb = kb

    def warm(self) -> None:
        for shape in SHAPES:
            shape.run(self.kb, *shape.draw(random.Random(-1)))

    def op(self, i: int, tr):
        shape, consts = self.stream[i]
        t0 = time.perf_counter()
        try:
            with tr.span(f"query.{shape.name}"):
                got = shape.run(self.kb, *consts)
        except Exception:
            _log_failure(f"query {shape.name}{consts}")
            return time.perf_counter() - t0, False
        dt = time.perf_counter() - t0
        want = self.oracle.expect(shape, consts)
        if got != want:
            print(f"[perfbench] {shape.name}{consts}: got {got}, want {want}", file=sys.stderr)
        return dt, got == want

    def op_kind(self, i: int) -> str:
        return self.stream[i][0].name

    def traced(self, tr) -> None:
        self.setup(tr)
        traced_kb(self.kb, tr)

    def layers(self, tr) -> dict:
        return {**_setup_layers(tr), **query_layers(tr, SHAPES)}

    def named(self, lat, window_s) -> dict:
        return {
            "query_p50_s": (p50_by_kind(lat, [self.op_kind(i) for i in range(len(lat))]), "s"),
            "query_p95_s": (pct(lat, 95), "s"),
            "queries_per_s": (len(lat) / window_s, "1/s"),
        }

    def close(self) -> None:
        self.oracle.close()


class KgPipeline:
    """ingest -> extract -> materialize over seeded conversation ids."""

    min_ops = 2
    cycle = 1

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n_convs = ctx.scale["pipeline_convs"]
        self.turns = self.n_convs * TURNS_PER_CONV
        # the seed offsets the conversation id range
        self.first_id = (ctx.seed % 997) * self.turns
        self.truth: set = set()
        self.passes: list[dict] = []
        self._n = 0

    def _pass(self, n_convs: int, tr):
        spark, self._n = self.ctx.spark, self._n + 1
        out = os.path.join(self.ctx.work, f"pass-{self._n}")
        ids = spark.range(self.first_id, self.first_id + n_convs * TURNS_PER_CONV)
        transcripts = transcripts_from_ids(ids)
        t0 = time.perf_counter()
        with tr.span("pipeline.ingest"):
            snapshot = ingest_transcripts(spark, transcripts, out, n_buckets=8)
        with tr.span("pipeline.extract"):
            run_extract_stage(spark, snapshot, out, n_buckets=8)
        with tr.span("pipeline.materialize"):
            triples = materialize_triples(spark, out)
        return time.perf_counter() - t0, out, triples

    def setup(self, tr) -> None:
        # the untimed warm-up: a pass over 1/16 of the input (most of a pass
        # is the fixed job chain; the first also pays for the JIT and the
        # Python workers)
        _, out, _ = self._pass(max(200, self.n_convs // 16), tr)
        shutil.rmtree(out)

    def warm(self) -> None:
        # the planted truth repeats every 200 conversations, so the truth of
        # any id range of >= 200 conversations is the truth of 0..n_convs
        rows = generate_ground_truth(self.ctx.spark, self.n_convs).collect()
        self.truth = {(r.s, r.p, r.o) for r in rows}

    def op(self, i: int, tr):
        out = None
        try:
            with tr.span("pipeline.pass"):
                dt, out, triples = self._pass(self.n_convs, tr)
            got = {(r.s, r.p, r.o) for r in triples.select("s", "p", "o").collect()}
            manifests = read_manifests(out)
            rows_in = sum(m["rows_in"] for m in manifests)
            common = len(got & self.truth)
            precision = common / len(got) if got else 0.0
            recall = common / len(self.truth)
            ok = precision >= 0.95 and recall >= 0.95 and rows_in == self.turns
            if not ok:
                print(
                    f"[perfbench] pass {i}: P={precision:.3f} R={recall:.3f} rows_in={rows_in}",
                    file=sys.stderr,
                )
            self.passes.append(
                {
                    "bytes": dir_bytes(out)[0],
                    "ingest_bytes": dir_bytes(os.path.join(out, "stage_ingest"))[0],
                    "manifests": manifests,
                    "triples": len(got),
                }
            )
            return dt, ok
        except Exception:
            _log_failure(f"pipeline pass {i}")
            return 0.0, False
        finally:
            if out is not None:
                shutil.rmtree(out, ignore_errors=True)

    def op_kind(self, i: int) -> str:
        return "pass"

    def traced(self, tr) -> None:
        self.passes = []

    def layers(self, tr) -> dict:
        out = {}
        for stage in ("ingest", "extract", "materialize"):
            spans = tr.by_name(f"pipeline.{stage}")
            out[f"pipeline.{stage}_s"] = med(r["dur"] for r in spans)
            out[f"pipeline.{stage}_jobs"] = med(r["self_jobs"] for r in spans)
        ext, mat = tr.by_name("pipeline.extract"), tr.by_name("pipeline.materialize")
        ms = [p["manifests"] for p in self.passes]
        out.update(
            {
                "pipeline.ingest_bytes": med(p["ingest_bytes"] for p in self.passes),
                "pipeline.extract_tasks": med(r["self_tasks"] for r in ext),
                "pipeline.extract_bucket_max_s": med(max(b["wall_s"] for b in m) for m in ms),
                "pipeline.extract_rows_in": med(sum(b["rows_in"] for b in m) for m in ms),
                "pipeline.extract_triples_out": med(sum(b["triples_out"] for b in m) for m in ms),
                "pipeline.materialize_stages": med(r["self_stages"] for r in mat),
                "pipeline.materialize_shuffle_bytes": med(r["self_shuffle_bytes"] for r in mat),
                "pipeline.triples_out": med(p["triples"] for p in self.passes),
                "pipeline.bytes_per_turn": self._bytes_per_turn(),
            }
        )
        return out

    def _bytes_per_turn(self) -> float:
        return med(p["bytes"] for p in self.passes) / self.turns

    def named(self, lat, window_s) -> dict:
        return {
            "pipeline_turns_per_s": (self.turns * len(lat) / sum(lat), "1/s"),
            "pipeline_bytes_per_turn": (self._bytes_per_turn(), "B"),
        }

    def close(self) -> None:
        pass


class KbUpdate:
    """Rounds of the kr open/add/close cycle against a parquet store."""

    min_ops = 3
    cycle = 1
    NEW_KEY_BASE = 10**9

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.path = os.path.join(ctx.work, "store")
        self.batch = ctx.scale["update_customers"]
        self.oracle = Oracle(ctx.tables)
        self.base_live = self.oracle.scalar(BASE_TRIPLES_SQL)
        self.base_nation = dict(
            self.oracle.rows("SELECT c_custkey, c_nationkey FROM customer")
        )
        self.rounds: list[dict] = []

    def setup(self, tr) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        spark = self.ctx.spark
        triples = derive_triples(spark, self.ctx.tables_dir)
        KB(spark, df=triples.select(*TRIPLE_SCHEMA.fieldNames())).save(self.path)
        self.live = self.base_live
        self.new_by_nation: dict[int, int] = {}
        self.new_by_seg: dict[tuple, int] = {}
        self.prev_fresh: list[tuple] = []
        self.n_round = 0
        self.rounds = []

    def _batch(self):
        """Fresh triples on new customers, plus a planted ~9% share of
        triples already in the store (base customers and the last round)."""
        g = random.Random(self.ctx.seed * 1_000_003 + self.n_round)
        first = self.NEW_KEY_BASE + self.n_round * self.batch
        fresh, people = [], []
        for key in range(first, first + self.batch):
            nation, seg = g.randrange(25), g.choice(SEGMENTS)
            bal = g.randrange(-99_999, 1_000_000) / 100.0
            c = f"kgc/{key}"
            fresh += [
                (c, "rdf/type", "ty/Customer"),
                (c, "foaf/name", f"Customer#{key:09d}"),
                (c, "rel/inNation", f"kgn/{nation}"),
                (c, "rel/mktsegment", seg),
                (c, "rel/acctbal", bal),
            ]
            people.append((nation, seg))
        n_dup = len(fresh) // 11
        old = g.sample(sorted(self.base_nation), n_dup - n_dup // 2)
        dups = [(f"kgc/{k}", "rel/inNation", f"kgn/{self.base_nation[k]}") for k in old]
        dups += g.sample(self.prev_fresh, min(n_dup // 2, len(self.prev_fresh)))
        batch = fresh + dups
        g.shuffle(batch)
        return batch, fresh, people, g

    def warm(self) -> None:
        self.op(-1, NullTracer())
        self.rounds = []

    def op(self, i: int, tr):
        spark = self.ctx.spark
        batch, fresh, people, g = self._batch()
        bytes_before = dir_bytes(self.path)[0]
        # the two queries touch this round's new customers
        k, seg = people[g.randrange(len(people))]
        k2 = people[g.randrange(len(people))][0]
        t0 = time.perf_counter()
        try:
            with tr.span("round"):
                with tr.span("kb.load"):
                    kb = KB.load(spark, self.path)
                    kb.register_namespaces(NS)
                traced_kb(kb, tr)
                with tr.span("kb.add"):
                    kb.add_statements(batch)
                with tr.span("kb.save"):
                    kb.save(self.path)
                with tr.span("kb.stats"):
                    kb.predicate_stats()
                with tr.span("query.bgp4"):
                    got_bgp = SHAPES_BY_NAME["bgp4"].run(kb, k2)
                with tr.span("query.sparql_count"):
                    got_sc = SHAPES_BY_NAME["sparql_count"].run(kb, k, seg)
            dt, ok = time.perf_counter() - t0, True
        except Exception:
            _log_failure(f"update round {i}")
            dt, ok, got_bgp, got_sc = time.perf_counter() - t0, False, None, None
        self.n_round += 1
        # set semantics: the store grows by exactly the fresh triples
        live = KB.load(spark, self.path).size()
        want_live = self.live + len(fresh)
        if live == want_live:
            for nation, s in people:
                self.new_by_nation[nation] = self.new_by_nation.get(nation, 0) + 1
                self.new_by_seg[(nation, s)] = self.new_by_seg.get((nation, s), 0) + 1
            self.prev_fresh = fresh
        self.live = live  # later rounds are checked against the store as it is
        want_bgp = self.oracle.expect(SHAPES_BY_NAME["bgp4"], (k2,)) + self.new_by_nation.get(
            k2, 0
        )
        want_sc = self.oracle.expect(
            SHAPES_BY_NAME["sparql_count"], (k, seg)
        ) + self.new_by_seg.get((k, seg), 0)
        ok = ok and live == want_live and got_bgp == want_bgp and got_sc == want_sc
        if not ok:
            print(
                f"[perfbench] round {i}: live {live}/{want_live} bgp4 {got_bgp}/{want_bgp}"
                f" sparql_count {got_sc}/{want_sc}",
                file=sys.stderr,
            )
        size, files = dir_bytes(self.path)
        self.rounds.append({"written": size - bytes_before, "bytes": size, "files": files})
        return dt, ok

    def op_kind(self, i: int) -> str:
        return "round"

    def traced(self, tr) -> None:
        # replay the same rounds on a fresh store
        self.setup(NullTracer())
        self.warm()

    def layers(self, tr) -> dict:
        rounds = tr.by_name("round")
        kids = {r["id"]: {} for r in rounds}
        for r in tr.spans:
            if r["parent"] in kids:
                kids[r["parent"]][r["name"]] = r
        out = {
            f"{name}_s": med(kids[r["id"]][name]["dur"] for r in rounds)
            for name in ("kb.load", "kb.add", "kb.save", "kb.stats")
        }
        out["kb.save_jobs"] = med(len(kids[r["id"]]["kb.save"]["jobs"]) for r in rounds)
        out["query.exec_s"] = med(
            kids[r["id"]]["query.bgp4"]["self"] + kids[r["id"]]["query.sparql_count"]["self"]
            for r in rounds
        )
        out.update(query_layers(tr, [SHAPES_BY_NAME["bgp4"], SHAPES_BY_NAME["sparql_count"]]))
        out["store.bytes_written"] = med(r["written"] for r in self.rounds)
        out["store.files"] = self.rounds[-1]["files"] if self.rounds else 0
        out["store.bytes_per_triple"] = self._bytes_per_triple()
        return out

    def _bytes_per_triple(self) -> float:
        return self.rounds[-1]["bytes"] / self.live if self.rounds else 0.0

    def named(self, lat, window_s) -> dict:
        return {
            "update_round_p50_s": (med(lat), "s"),
            "update_round_p90_s": (pct(lat, 90), "s"),
            "store_bytes_per_triple": (self._bytes_per_triple(), "B"),
        }

    def close(self) -> None:
        self.oracle.close()


WORKLOADS = {"query_mix": QueryMix, "kg_pipeline": KgPipeline, "kb_update": KbUpdate}
