"""KB — a knowledge base handle: SparkSession + one big triple DataFrame.

Reference: kr's KB protocol (kr-core/.../kb.clj:15-21) wraps a Jena Dataset or
Sesame Sail; triples are row objects added one at a time
(jena/rdf.clj:288-312, sesame/rdf.clj:244-257) with read-before-write dedup
(`checked-add` rdf.clj:504-507). Here the store is columnar: one DataFrame
with the FIXTURES.md §B schema; `add` batches rows driver-side and dedups with
a single left-anti join per flush — no per-row round trips.

A KB is a base DataFrame (what it was opened on: a store snapshot, a given
frame, or nothing) plus the rows added since, kept as their own small
checkpointed frame. `save` hands the store only those rows when the KB still
matches the store's current snapshot, like a Delta Lake commit that writes
only new files (PAPERS.md "Delta Lake").

Scale notes (100 TB design): the in-memory `_df` path is for tests and small
fixtures; production materialization goes through kr_spark.sources.store
(pred-bucket partitioned parquet/Iceberg). All dedup is a single shuffle on
the natural key (s_kind,s,p,o_kind,o,o_lang,o_datatype,graph); Catalyst/AQE
handle join strategy, and the hot-predicate skew path is in the canonicalize/
fixpoint loops (kr_spark.plans.fixpoint), not here.
"""

from __future__ import annotations

import os
import threading
from decimal import Decimal
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kr_spark.namespaces import NamespaceRegistry
from kr_spark.terms import (
    KIND_BNODE,
    KIND_LITERAL,
    Term,
    to_term,
)

# FIXTURES.md §B — the engine core schema.
TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("s_kind", T.StringType(), False),
        T.StructField("s", T.StringType(), False),
        T.StructField("p", T.StringType(), False),
        T.StructField("o_kind", T.StringType(), False),
        T.StructField("o", T.StringType(), False),
        T.StructField("o_lang", T.StringType(), True),
        T.StructField("o_datatype", T.StringType(), True),
        T.StructField("num_val", T.DecimalType(38, 9), True),
        T.StructField("graph", T.StringType(), True),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("rule_id", T.StringType(), True),
    ]
)

# Natural key for set semantics (a triple exists once per graph —
# rdf.clj:504-507 checked-add).
TRIPLE_KEY = ["s_kind", "s", "p", "o_kind", "o", "o_lang", "o_datatype", "graph"]


def anti_join_null_safe(new: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """LEFT ANTI on keys with null-safe equality (<=>) — nullable key columns
    (o_lang/o_datatype/graph) must compare equal when both NULL, else every
    NULL-keyed triple is 'fresh' forever and set semantics breaks."""
    ex = existing.select(*[F.col(k).alias(f"__k_{k}") for k in keys])
    cond = None
    for k in keys:
        c = new[k].eqNullSafe(F.col(f"__k_{k}"))
        cond = c if cond is None else (cond & c)
    return new.join(ex, cond, "left_anti")


def _box_agg_columns(df: DataFrame, aliases: set) -> DataFrame:
    """Box plain aggregate output columns as term structs so aggregates are
    one uniform surface at the top level and inside sub-SELECTs (VERDICT r3
    wrong #6): long/int -> xsd:integer, decimal -> trimmed-lexical
    xsd:decimal, double -> xsd:double, boolean -> xsd:boolean, string ->
    plain literal. MIN/MAX/SAMPLE already return the winning term struct."""
    from kr_spark.plans.filters import _XSD, _mk_term, _trim_decimal

    cols = []
    for field in df.schema.fields:
        c = F.col(field.name)
        if field.name not in aliases or isinstance(field.dataType, T.StructType):
            cols.append(c)
            continue
        t = field.dataType
        if isinstance(t, (T.LongType, T.IntegerType)):
            s = _mk_term(F.lit("literal"), c.cast("string"), dt=F.lit(_XSD + "integer"))
        elif isinstance(t, T.DecimalType):
            s = _mk_term(F.lit("literal"), _trim_decimal(c), dt=F.lit(_XSD + "decimal"))
        elif isinstance(t, T.DoubleType):
            s = _mk_term(F.lit("literal"), c.cast("string"), dt=F.lit(_XSD + "double"))
        elif isinstance(t, T.BooleanType):
            s = _mk_term(
                F.lit("literal"),
                F.when(c, F.lit("true")).otherwise(F.lit("false")),
                dt=F.lit(_XSD + "boolean"),
            )
        elif isinstance(t, T.StringType):
            s = _mk_term(F.lit("literal"), c)
        else:
            s = _mk_term(F.lit("literal"), c.cast("string"))
        cols.append(F.when(c.isNotNull(), s).alias(field.name))
    return df.select(*cols)


def _snapshot_key(store) -> tuple:
    """Identity of the store snapshot a handle is at: path, layout, id."""
    return (os.path.abspath(store.path), store.pred_buckets, store.snapshot)


def triple_row(
    s: Term,
    p: Term,
    o: Term,
    graph: str | None = None,
    conv_id: str | None = None,
    turn_idx: int | None = None,
    rule_id: str | None = None,
) -> Row:
    nv = o.num_val()
    return Row(
        s_kind=s.kind,
        s=s.v,
        p=p.v,
        o_kind=o.kind,
        o=o.v,
        o_lang=o.lang or None,
        o_datatype=o.dt or None,
        num_val=Decimal(nv) if nv is not None else None,
        graph=graph,
        conv_id=conv_id,
        turn_idx=turn_idx,
        rule_id=rule_id,
    )


class KB:
    """Triple-table knowledge base (kb.clj:15-21 role, Spark-native body)."""

    def __init__(
        self,
        spark: SparkSession,
        ns: NamespaceRegistry | None = None,
        df: DataFrame | None = None,
        use_default_language: bool = True,
        default_language: str = "en",
        pinned_now: str | None = None,
    ) -> None:
        self.spark = spark
        self.ns = ns if ns is not None else NamespaceRegistry()
        # base: a set of triples (a store snapshot, a caller's frame, or empty)
        self._base = df if df is not None else spark.createDataFrame([], TRIPLE_SCHEMA)
        # rows added since the base, localCheckpointed; None when there are none
        self._added: DataFrame | None = None
        # True while the added or pending rows may hold add_unchecked duplicates
        self._unchecked = False
        # (path, pred_buckets, snapshot id) of the store snapshot the base
        # is a subset of; None when the base came from no store
        self._stored_at: tuple | None = None
        self._pending: list[Row] = []
        self._pending_unchecked: list[Row] = []
        # one flush at a time: concurrent readers (pmap_query) must not see
        # the pending rows taken but not yet added
        self._flush_lock = threading.Lock()
        self.use_default_language = use_default_language
        self.default_language = default_language
        # default graph for adds, like kr's dynamic *graph* (rdf.clj:20)
        self.graph: str | None = None
        # NOW()'s value — a run-supplied xsd:dateTime lexical form; None
        # makes NOW() raise (wall-clock would break deterministic resume)
        self.pinned_now = pinned_now
        # opt-in for RAND()/UUID()/STRUUID() (SPARQL §17.4.1.4/5.5/5.6):
        # per-row nondeterminism breaks kill+resume bit-identity, so these
        # raise unless the caller explicitly accepts that trade
        self.allow_nondeterministic = False
        # *force-add-named-to-default* mirror (jena/rdf.clj:29): when True,
        # every named-graph add also lands a copy in the default graph
        self.force_add_named_to_default = False

    # ---- namespace registry (rdf.clj:115-167) ----

    def register_namespaces(self, pairs: dict[str, str]) -> None:
        self.ns.register_all(pairs)

    # ---- term coercion ----

    def term(self, x: object) -> Term:
        return to_term(
            x,
            self.ns,
            use_default_language=self.use_default_language,
            default_language=self.default_language,
        )

    # ---- mutation (SURVEY §2.2 M1-M4) ----

    def add(self, s, p, o, graph: str | None = None) -> None:
        """Checked add: set semantics, triple exists once (M1, rdf.clj:504-522).

        Batched: rows buffer driver-side; dedup happens at flush with one
        left-anti join, not one ask per triple like the reference.
        """
        g = graph if graph is not None else self.graph
        if g is not None:
            g = self.term(g).v
        self._pending.append(triple_row(self.term(s), self.term(p), self.term(o), g))
        if g is not None and self.force_add_named_to_default:
            # *force-add-named-to-default* (jena/rdf.clj:29): mirror the
            # quad into the default graph so default-graph queries see it
            self._pending.append(
                triple_row(self.term(s), self.term(p), self.term(o), None)
            )

    def add_unchecked(self, s, p, o, graph: str | None = None) -> None:
        """Unchecked insert (M2, rdf.clj:524-535): plain append, NO existence
        anti-join at flush. Duplicate rows may exist until `compact()` — the
        columnar trade for a cheaper write path (SURVEY §2.2: append +
        periodic dropDuplicates compaction). The reference's backing stores
        are sets, so post-compaction state matches the reference exactly.
        """
        g = graph if graph is not None else self.graph
        if g is not None:
            g = self.term(g).v
        self._pending_unchecked.append(
            triple_row(self.term(s), self.term(p), self.term(o), g)
        )
        self._unchecked = True
        if g is not None and self.force_add_named_to_default:
            self._pending_unchecked.append(
                triple_row(self.term(s), self.term(p), self.term(o), None)
            )

    def compact(self) -> None:
        """Dedup unchecked appends — restores set semantics (M2's deferred
        half of checked-add; at scale this is the background table rewrite).
        Only the added rows can repeat: the base is a set."""
        self.flush()
        if self._unchecked:
            self._added = anti_join_null_safe(
                self._added.dropDuplicates(TRIPLE_KEY), self._base, TRIPLE_KEY
            ).localCheckpoint()
            self._unchecked = False

    def add_statements(self, triples: Iterable[tuple]) -> None:
        """Batch insert (M3, rdf.clj:78)."""
        for t in triples:
            self.add(*t)

    def add_rows(self, df: DataFrame) -> None:
        """Append a DataFrame already in TRIPLE_SCHEMA, with set-semantics dedup."""
        self.flush()
        new = df.select(*TRIPLE_SCHEMA.fieldNames())
        # the predicates of `df` are not known on the driver: unpruned probe
        fresh = anti_join_null_safe(new, self._df, TRIPLE_KEY)
        self._append(fresh.dropDuplicates(TRIPLE_KEY))

    def flush(self) -> None:
        with self._flush_lock:
            if self._pending:
                rows, self._pending = self._pending, []
                batch = self.spark.createDataFrame(rows, TRIPLE_SCHEMA).dropDuplicates(
                    TRIPLE_KEY
                )
                # set semantics probes only the triples of the batch's predicates
                preds = sorted({r.p for r in rows})
                existing = self._df.filter(F.col("p").isin(*preds))
                self._append(anti_join_null_safe(batch, existing, TRIPLE_KEY))
            if self._pending_unchecked:
                rows, self._pending_unchecked = self._pending_unchecked, []
                self._append(self.spark.createDataFrame(rows, TRIPLE_SCHEMA))

    def _append(self, fresh: DataFrame) -> None:
        # localCheckpoint the added rows only: query plans against a mutated
        # KB stay shallow (the fixpoint loop's per-iteration checkpoint role)
        # and the base is never copied
        added = fresh if self._added is None else self._added.unionByName(fresh)
        self._added = added.localCheckpoint()

    @property
    def _df(self) -> DataFrame:
        """The KB's triples, pending rows excluded."""
        if self._added is None:
            return self._base
        return self._base.unionByName(self._added)

    def df(self) -> DataFrame:
        self.flush()
        return self._df

    def predicate_stats(self, refresh: bool = False) -> dict[str, int]:
        """Predicate -> triple count, computed once and cached (the stats
        table of SURVEY §4.3.1). Bounded by DISTINCT predicates — small even
        at 100 TB (vocabularies are thousands, not billions) — so a driver
        dict is the right shape. Refresh after bulk mutations if join
        ordering matters; staleness only costs plan quality, never
        correctness."""
        if refresh or getattr(self, "_pred_stats", None) is None:
            rows = self.df().groupBy("p").count().collect()
            self._pred_stats = {r["p"]: r["count"] for r in rows}
        return self._pred_stats

    def size(self) -> int:
        return self.df().count()

    # ---- point lookups (SURVEY §2.3 L1-L2) ----

    def _slot_conditions(self, s=None, p=None, o=None, graph=None) -> list:
        conds = []
        if s is not None:
            t = self.term(s)
            conds += [F.col("s_kind") == t.kind, F.col("s") == t.v]
        if p is not None:
            conds.append(F.col("p") == self.term(p).v)
        if o is not None:
            t = self.term(o)
            conds.append(F.col("o_kind") == t.kind)
            conds.append(F.col("o") == t.v)
            if t.kind == KIND_LITERAL:
                conds.append(F.coalesce(F.col("o_lang"), F.lit("")) == t.lang)
                conds.append(F.coalesce(F.col("o_datatype"), F.lit("")) == t.dt)
        if graph is not None:
            conds.append(F.col("graph") == self.term(graph).v)
        return conds

    def ask_rdf(self, s=None, p=None, o=None, graph=None) -> bool:
        """Any triple matching the (possibly wildcarded) slots? (rdf.clj:555-565)"""
        df = self.df()
        for c in self._slot_conditions(s, p, o, graph):
            df = df.filter(c)
        return df.limit(1).count() > 0

    def query_rdf(self, s=None, p=None, o=None, graph=None) -> DataFrame:
        """All matching triples (rdf.clj:568-578)."""
        df = self.df()
        for c in self._slot_conditions(s, p, o, graph):
            df = df.filter(c)
        return df

    # ---- pattern queries (SURVEY §2.4) — delegate to the compiler ----

    def plan(self, pattern, graph_scope: str | None = None) -> "CompiledPattern":
        from kr_spark.plans.compiler import compile_pattern

        return compile_pattern(self, pattern, graph_scope=graph_scope)

    def query(
        self,
        pattern,
        select_vars: list[str] | None = None,
        distinct: bool = False,
        limit: int | None = None,
        order_by: list[tuple[str, str]] | None = None,
        offset: int | None = None,
    ) -> list[dict]:
        """SELECT: binding maps for all (or select_vars) variables
        (sparql.clj:509-512). Bag semantics by default (*select-type* "" —
        sparql.clj:15-17)."""
        df = self.query_df(pattern, select_vars, distinct, limit, order_by, offset)
        return [self._row_to_binding(r) for r in df.collect()]

    def query_df(
        self,
        pattern,
        select_vars: list[str] | None = None,
        distinct: bool = False,
        limit: int | None = None,
        order_by: list[tuple[str, str]] | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        plan = self.plan(pattern)
        df = plan.df
        cols = plan.visible_vars
        if select_vars is not None:
            want = [self.term(v).v if "/" in str(v) else str(v) for v in select_vars]
            cols = [c for c in want if c in plan.all_vars]
        if order_by and not distinct:
            # §18.2.5: ORDER BY precedes projection, so sort keys may be
            # non-projected vars or expressions over them; the narrow
            # projection below preserves the order
            df = df.orderBy(*self._order_cols(order_by, set(plan.all_vars)))
        df = df.select(*cols)
        if distinct:
            df = df.dropDuplicates()
            if order_by:
                # DISTINCT re-shuffles; re-sort on the projected columns
                # (spec requires ordering keys be projected in this case)
                df = df.orderBy(*self._order_cols(order_by, set(cols)))
        if offset:
            df = df.offset(offset)
        if limit is not None:
            df = df.limit(limit)
        return df

    def _order_cols(self, order_by: list[tuple], plan_vars: set | None = None) -> list:
        """ORDER BY keys over term-struct columns: SPARQL-ish total order —
        unbound < numeric-by-value < everything-else-by-lexical-form
        (SPARQL 1.1 §15.1; ties broken by full struct for determinism).
        A ref may also be a filter/BIND s-expression (ORDER BY STRLEN(?x))
        — compiled to a term struct and keyed the same way."""
        from kr_spark.plans.filters import _DT_DATETIME_FAMILY, compile_value_expr
        from kr_spark.terms import NUMERIC_DATATYPES

        out = []
        for ref, direction in order_by:
            if isinstance(ref, (list, tuple)):
                c = compile_value_expr(self, ref, plan_vars or set())
            else:
                name = self.term(ref).v if "/" in str(ref) else str(ref)
                c = F.col(name)
            key = F.struct(
                c.isNotNull().cast("int").alias("bound"),
                # §15.1 term-kind order: blank nodes < IRIs < literals —
                # a numeric literal must NOT sort before an IRI
                F.when(c["kind"] == "bnode", 0)
                .when(c["kind"] == "uri", 1)
                .otherwise(2)
                .alias("kind_rank"),
                (~c["dt"].isin(*sorted(NUMERIC_DATATYPES))).cast("int").alias("nonnum"),
                F.when(
                    c["dt"].isin(*sorted(NUMERIC_DATATYPES)),
                    c["v"].try_cast("decimal(38,9)"),
                ).alias("num"),
                # dateTime family orders as instants (op:dateTime-less-than
                # normalizes offsets), not lexical forms — "…T03:00-05:00"
                # ties with "…T08:00Z"; uncastables fall through to lex
                F.when(
                    c["dt"].isin(*_DT_DATETIME_FAMILY),
                    c["v"].try_cast("timestamp"),
                ).alias("instant"),
                c["v"].alias("lex"),
                c.alias("term"),
            )
            out.append(key.desc() if str(direction).lower() == "desc" else key.asc())
        return out

    def aggregate_df(
        self,
        pattern,
        group_by: list[str],
        aggs: list[tuple],
        having=None,
        order_by: list[tuple[str, str]] | None = None,
        limit: int | None = None,
        offset: int | None = None,
        select_order: list[str] | None = None,
        proj_exprs: list[tuple] | None = None,
    ) -> DataFrame:
        """GROUP BY + aggregates (SPARQL 1.1 §11; Jena runs these for the
        reference via raw strings — sparql.clj:560-603 hands text to the
        backend verbatim). EVERY output column is a term struct: group vars
        pass through; COUNT mints xsd:integer, SUM/AVG mint xsd:decimal (the
        engine's numeric value space), GROUP_CONCAT a plain literal, while
        MIN/MAX/SAMPLE return the winning TERM (§18.5.1.7-8 — they select an
        existing RDF term, datatype and all). One boxed surface at both the
        top level and the sub-SELECT path (VERDICT r3 wrong #6) — HAVING and
        ORDER BY run the standard value-space machinery over the structs.

        agg spec: (op, operand, alias[, distinct[, separator]]) with op in
        count/sum/avg/min/max/group_concat/sample; operand is None (COUNT *),
        a '?/var' ref, or a full expression s-expr (SUM(?price * ?qty) —
        computed as a pre-aggregation column, one pass). GROUP_CONCAT sorts
        its operands for a deterministic result (the spec leaves the order
        undefined). One shuffle on the grouping key; partial (map-side)
        aggregation applies to all of these ops at scale.

        select_order: SELECT-list column names in appearance order;
        validates that every projected var is grouped (SPARQL §18.2.4.4 —
        selecting a non-grouped var is a query error; ADVICE r2) and
        projects/reorders the output to the SELECT list (hidden aliases
        minted for HAVING/ORDER BY aggregate expressions drop out here).

        proj_exprs: SELECT-list (expr AS ?alias) items (§18.2.4.4 Extend) —
        computed over the grouped output (group vars, aggregate aliases,
        earlier projection aliases)."""
        from kr_spark.plans.compiler import _collect_expr_vars
        from kr_spark.plans.filters import compile_filter_expr, compile_value_expr
        from kr_spark.terms import NUMERIC_DATATYPES

        plan = self.plan(pattern)
        df = plan.df
        gcols = [self.term(g).v if "/" in str(g) else str(g) for g in group_by]
        for g in gcols:
            if g not in plan.all_vars:
                raise ValueError(f"GROUP BY var ?{g} not bound in pattern")
        num_list = sorted(NUMERIC_DATATYPES)

        # aggregate-over-expression operands: compute once, pre-shuffle
        arg_cols: dict = {}
        resolved_names: list = []
        for i, spec in enumerate(aggs):
            operand = spec[1]
            if operand is None:
                resolved_names.append(None)
            elif isinstance(operand, str) or isinstance(operand, Term):
                resolved_names.append(
                    self.term(operand).v if "/" in str(operand) else str(operand)
                )
            else:  # expression s-expr
                name = f"__aggarg{i}"
                arg_cols[name] = compile_value_expr(
                    self, operand, set(plan.all_vars)
                )
                resolved_names.append(name)
        if arg_cols:
            df = df.withColumns(arg_cols)

        def _num(name: str):
            # try_cast: a malformed numeric lexical form in data is a
            # per-row non-value, never an ANSI exception mid-aggregation
            c = F.col(name)
            return F.when(c["dt"].isin(*num_list), c["v"].try_cast("decimal(38,9)"))

        def _ordkey(name: str):
            from kr_spark.plans.filters import _DT_DATETIME_FAMILY

            c = F.col(name)
            # same §15.1-style key as _order_cols: numerics by value, the
            # dateTime family as instants (MIN/MAX use the `<` ordering, so
            # "…T23:30+10:00" must lose to a later "…T14:00Z"), else lexical
            instant = F.when(
                c["dt"].isin(*_DT_DATETIME_FAMILY), c["v"].try_cast("timestamp")
            )
            return F.struct(
                (~c["dt"].isin(*num_list)).cast("int"), _num(name), instant, c["v"]
            )

        agg_exprs = []
        for spec, name in zip(aggs, resolved_names):
            op, alias = spec[0], spec[2]
            distinct = bool(spec[3]) if len(spec) > 3 else False
            sep = spec[4] if len(spec) > 4 else " "
            if op == "count":
                if name is None:
                    # COUNT(*) / COUNT(DISTINCT *): the latter counts
                    # distinct SOLUTIONS — a struct over the IN-SCOPE vars
                    # (visible_vars), not all_vars: two solutions identical
                    # on every visible var but matched via different
                    # blank-node pattern vars are ONE solution (ADVICE r4);
                    # the struct (vs plain count_distinct(cols)) keeps
                    # NULL-bearing partial solutions countable
                    if distinct:
                        e = F.count_distinct(
                            F.struct(*[F.col(v) for v in plan.visible_vars])
                        )
                    else:
                        e = F.count(F.lit(1))
                elif distinct:
                    e = F.count_distinct(F.col(name))
                else:
                    e = F.count(F.col(name))
            elif op in ("sum", "avg"):
                # try_sum/try_avg/try_divide: decimal overflow or an all-
                # error group yields NULL (unbound) instead of an ANSI
                # exception that aborts the query
                v = _num(name)
                if distinct:
                    s = F.sum_distinct(v)
                    e = s if op == "sum" else F.try_divide(s, F.count_distinct(v))
                else:
                    e = F.try_sum(v) if op == "sum" else F.try_avg(v)
                # §18.5.1.5-6 + op:numeric-add: ONE error element (an
                # unbound operand or a non-numeric term) makes the whole
                # group's Sum/Avg an error -> unbound, not a silent
                # skip-the-bad-rows total (Jena agrees). Empty groups pass
                # (max over zero rows is NULL -> coalesce 0).
                group_has_err = (
                    F.coalesce(
                        F.max((F.col(name).isNull() | v.isNull()).cast("int")),
                        F.lit(0),
                    )
                    == 1
                )
                if not gcols:
                    # §18.5.1.5-6: Sum({}) = 0 and Avg({}) = 0 — a global
                    # aggregate over zero solutions yields one row with a
                    # ZERO, not an unbound var (Jena agrees; grouped
                    # aggregation never sees an empty group). The error
                    # check must win over the empty-group zero, so it
                    # wraps OUTSIDE the coalesce.
                    e = F.coalesce(e, F.lit(0).cast("decimal(38,9)"))
                e = F.when(~group_has_err, e)
            elif op in ("min", "max"):
                # MIN/MAX return the extreme TERM itself (§18.5.1.7-8 —
                # unlike COUNT/SUM/AVG which mint new literals), so the full
                # struct survives: a subquery's MAX keeps its datatype and
                # compares numerically downstream
                pick = F.min_by if op == "min" else F.max_by
                e = pick(F.col(name), _ordkey(name))
            elif op == "group_concat":
                vals = F.collect_list(F.col(name)["v"])
                if distinct:
                    vals = F.array_distinct(vals)
                e = F.array_join(F.array_sort(vals), sep)
                # like Sum: an unbound/erroring operand errors the group's
                # GroupConcat (§18.5.1.7); GroupConcat({}) stays ""
                e = F.when(
                    F.coalesce(
                        F.max(F.col(name).isNull().cast("int")), F.lit(0)
                    )
                    == 0,
                    e,
                )
            elif op == "sample":
                # any value is spec-conformant; min-by-lexical is
                # deterministic, and like MIN/MAX it returns the term
                e = F.min_by(F.col(name), F.col(name)["v"])
            else:
                raise ValueError(f"unknown aggregate {op!r}")
            agg_exprs.append(e.alias(alias))

        aliases = {spec[2] for spec in aggs}
        proj_aliases = {a for _, a in (proj_exprs or [])}
        if select_order is not None:
            for name in select_order:
                if name in aliases or name in proj_aliases:
                    continue
                if name not in gcols:
                    raise ValueError(
                        f"SELECT ?{name} is neither grouped nor aggregated "
                        "(SPARQL requires projected vars to appear in GROUP BY)"
                    )

        out = df.groupBy(*gcols).agg(*agg_exprs) if gcols else df.agg(*agg_exprs)
        out = _box_agg_columns(out, aliases)
        # §18.2.4.4 Extend: SELECT expressions over the grouped solution
        # (group vars, aggregate aliases, earlier projection aliases)
        for expr, alias in proj_exprs or []:
            refs: set = set()
            _collect_expr_vars(self, expr, refs)
            missing = refs - set(out.columns)
            if missing:
                raise ValueError(
                    f"SELECT expression for ?{alias} references "
                    f"non-grouped var(s) {sorted(missing)}"
                )
            out = out.withColumn(
                alias, compile_value_expr(self, expr, set(out.columns))
            )
        if having is not None:
            # boxed aggregate outputs run the standard value-space filter
            # machinery (numeric compare on xsd-typed structs)
            out = out.filter(
                compile_filter_expr(self, having, out, set(out.columns))
            )
        if order_by:
            out = out.orderBy(*self._order_cols(order_by, set(out.columns)))
        if offset:
            out = out.offset(offset)
        if limit is not None:
            out = out.limit(limit)
        if select_order is not None:
            out = out.select(*select_order)
        return out

    def _row_to_binding(self, row: Row) -> dict:
        out = {}
        for name, val in row.asDict().items():
            if val is None:
                continue
            out[name] = Term(val["kind"], val["v"], val["lang"], val["dt"])
        return out

    # ---- persistence (S1 open/close lifecycle against the store seam) ----

    def save(self, path: str, pred_buckets: int | None = None) -> None:
        """Persist the KB to a pred-bucketed triple store (sources/store.py;
        Iceberg layout, parquet fallback) through the store's one writer,
        `append_idempotent`, which keeps set semantics.

        When the KB still matches the store's current snapshot (same path,
        layout and snapshot id as its last load or save) only the rows
        added since are handed over; otherwise the whole KB is. Unchecked
        adds are compacted first. `pred_buckets=None` takes an existing
        store's layout from its manifest (16 for a new store)."""
        from kr_spark.sources.store import open_store

        store = open_store(self.spark, path, pred_buckets)
        if self._unchecked:
            self.compact()
        rows = self.df()
        if self._stored_at == _snapshot_key(store):
            # nothing added: an empty frame the optimizer folds to a local
            # relation, so the store sees no rows without running a job
            rows = self._added if self._added is not None else rows.limit(0)
        store.append_idempotent(rows)
        self._base, self._added = self._df, None
        self._stored_at = _snapshot_key(store)

    @classmethod
    def load(cls, spark: SparkSession, path: str, pred_buckets: int | None = None) -> "KB":
        """Open a persisted KB (kb constructor S1 role for a durable store).
        The KB records the snapshot it was opened at, read before the data
        so a concurrent write can only make it look older."""
        from kr_spark.sources.store import open_store

        store = open_store(spark, path, pred_buckets)
        kb = cls(spark, df=store.read())
        kb._stored_at = _snapshot_key(store)
        return kb

    # ---- raw SPARQL string entry points (Q9, sparql.clj:560-603) ----

    def sparql(self, text: str):
        """One entry point for any SPARQL string, dispatched on query form:
        SELECT -> list of binding dicts, ASK -> bool, COUNT -> int,
        CONSTRUCT/DESCRIBE -> triple DataFrame."""
        from kr_spark.plans.sparql_parser import parse_sparql

        form = parse_sparql(self, text)["type"]
        if form == "select":
            return self.sparql_query(text)
        if form == "ask":
            return self.sparql_ask(text)
        if form == "count":
            return self.sparql_count(text)
        if form == "construct":
            return self.sparql_construct(text)
        if form == "describe":
            return self.sparql_describe(text)
        raise ValueError(f"unsupported SPARQL form {form!r}")

    def sparql_query(self, text: str) -> list[dict]:
        from kr_spark.plans.sparql_parser import sparql_query

        return sparql_query(self, text)

    def sparql_ask(self, text: str) -> bool:
        from kr_spark.plans.sparql_parser import sparql_ask

        return sparql_ask(self, text)

    def sparql_count(self, text: str) -> int:
        from kr_spark.plans.sparql_parser import sparql_count

        return sparql_count(self, text)

    def sparql_query_df(self, text: str) -> DataFrame:
        """SELECT string (plain or GROUP BY/aggregate) -> DataFrame."""
        from kr_spark.plans.sparql_parser import sparql_query_df

        return sparql_query_df(self, text)

    def describe(self, *subjects, subjects_df: DataFrame | None = None) -> DataFrame:
        """DESCRIBE: concise bounded description — all triples whose subject
        is one of `subjects`, plus the transitive closure through blank-node
        objects (the CBD Jena computes for the reference's raw DESCRIBE
        strings). Blank-node chains are rare and shallow in practice; the
        loop is driver-paced with a depth cap, each step one semi-join.

        subjects_df: alternative seed — a DataFrame with one column `s` of
        subject values; stays distributed (no driver collect), used by
        DESCRIBE ?v WHERE {...} where the binding set can be huge."""
        df = self.df()
        if subjects_df is not None:
            seed = df.join(subjects_df.select("s").distinct(), on="s", how="left_semi")
        else:
            vals = [self.term(s).v for s in subjects]
            seed = df.filter(F.col("s").isin(vals))
        out = seed
        visited = seed.select("s").distinct()
        frontier = (
            seed.filter(F.col("o_kind") == KIND_BNODE)
            .select(F.col("o").alias("s"))
            .distinct()
        )
        for _ in range(16):  # CBD bnode-chain depth cap
            frontier = frontier.join(visited, on="s", how="left_anti")
            if frontier.isEmpty():
                break
            step = df.join(frontier, on="s", how="left_semi")
            out = out.unionByName(step)
            visited = visited.unionByName(frontier).distinct()
            frontier = (
                step.filter(F.col("o_kind") == KIND_BNODE)
                .select(F.col("o").alias("s"))
                .distinct()
            )
        return out

    def sparql_describe(self, text: str) -> DataFrame:
        """DESCRIBE string -> triple DataFrame (CBD per `describe`)."""
        from kr_spark.plans.sparql_parser import parse_sparql

        q = parse_sparql(self, text)
        if q["type"] != "describe":
            raise ValueError(f"not a DESCRIBE query: {q['type']}")
        subjects = list(q["subjects"])
        if q.get("pattern"):
            # keep the bindings distributed: an unselective pattern at 64M
            # triples would blow driver memory if collected into an isin()
            # literal list (ADVICE r2) — seed the CBD via a semi-join instead
            var = subjects[0]
            name = self.term(var).v
            bdf = self.query_df(q["pattern"], select_vars=[var])
            subs = (
                bdf.filter(F.col(name)["kind"].isin("uri", "bnode"))
                .select(F.col(name)["v"].alias("s"))
            )
            return self.describe(subjects_df=subs)
        return self.describe(*subjects)

    def sparql_construct(self, text: str) -> DataFrame:
        from kr_spark.plans.sparql_parser import sparql_construct

        return sparql_construct(self, text)

    def sparql_visit(self, text: str):
        """Push-visitor over a SELECT string (sparql-visit, sparql.clj:584-589)."""
        from kr_spark.plans.sparql_parser import parse_sparql

        q = parse_sparql(self, text)
        if q["type"] != "select":
            raise ValueError(f"not a SELECT query: {q['type']}")
        df = self.query_df(q["pattern"], q["select_vars"], q["distinct"], q["limit"])
        for row in df.toLocalIterator():
            yield self._row_to_binding(row)

    def sparql_query_template(self, template, text: str) -> list:
        """Project string-query bindings through a result template
        (sparql-query-template, sparql.clj:571-577)."""
        from kr_spark.plans.compiler import _subst
        from kr_spark.plans.sparql_parser import parse_sparql

        q = parse_sparql(self, text)
        if q["type"] != "select":
            raise ValueError(f"not a SELECT query: {q['type']}")
        return [
            _subst(self, template, b)
            for b in self.query(q["pattern"], q["select_vars"], q["distinct"], q["limit"])
        ]

    def sparql_construct_visit(self, text: str):
        """Visitor per constructed triple (sparql-construct-visit,
        sparql.clj:598-603)."""
        for row in self.sparql_construct(text).toLocalIterator():
            yield (row["s"], row["p"], row["o"])

    def pmap_query(self, patterns: list, max_workers: int = 8) -> list[list[dict]]:
        """Concurrent pattern queries (pmap-query, sparql.clj:613-629).

        The reference's entire scaling story is a thread pool with one store
        connection per thread; here each thread submits an independent Spark
        job and the cluster scheduler interleaves their stages — the
        driver-side fan-out is the same shape, the per-query execution is
        distributed. Results keep input order."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            return list(pool.map(self.query, patterns))

    def pmap_count(self, patterns: list, max_workers: int = 8) -> list[int]:
        """Concurrent COUNTs (pmap-count, sparql.clj:631-636)."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            return list(pool.map(self.count, patterns))

    def pmap_some(self, patterns: list, max_workers: int = 8) -> bool:
        """True iff ANY pattern has a match (pmap-some, sparql.clj:638-640)."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            return any(pool.map(self.ask, patterns))

    def get_literal(self, s, p, literal_mode=None):
        """Literal object of the first (s p ?o) match, formatted per
        *literal-mode* (clj_ify.clj:101-120; matrix test_rdf.clj:254-335).
        literal_mode: None/'clj', 'clj-type', 'string', 'native', or a
        callable(lex, type_or_lang) -> mode."""
        from kr_spark.terms import clj_ify

        rows = self.query_rdf(s=s, p=p).limit(1).collect()
        if not rows:
            return None
        r = rows[0]
        t = Term(r["o_kind"], r["o"], r["o_lang"] or "", r["o_datatype"] or "")
        return clj_ify(t, mode=literal_mode, ns=self.ns)

    def ask(self, pattern) -> bool:
        """ASK (sparql.clj:415-424): pattern existence."""
        return self.plan(pattern).df.limit(1).count() > 0

    def count(self, pattern, distinct: bool = False, limit: int | None = None) -> int:
        """COUNT over bindings (sparql.clj:478-496)."""
        df = self.plan(pattern).df
        if distinct:
            df = df.dropDuplicates()
        if limit is not None:
            df = df.limit(limit)
        return df.count()

    def visit(self, pattern) -> Iterator[dict]:
        """Push-visitor per binding, constant driver memory
        (sparql.clj:524-528) — toLocalIterator streams partitions."""
        plan = self.plan(pattern)
        for row in plan.df.select(*plan.visible_vars).toLocalIterator():
            yield self._row_to_binding(row)

    def query_template(self, template, pattern) -> list:
        """Project bindings through a result template (sparql.clj:514-522)."""
        from kr_spark.plans.compiler import instantiate_template

        return instantiate_template(self, template, pattern)

    def show(self, sym, limits: tuple = (10, 10, 10)) -> dict:
        """REPL helper (repl_utils.clj:20-27 show-sym): the triples around a
        symbol — as subject, predicate, and object — capped per role. Three
        limit-pushed pattern queries (limit reaches the scan; this never
        collects more than sum(limits) rows). Returns {'subject': [...],
        'predicate': [...], 'object': [...]} of binding tuples."""
        s_lim, p_lim, o_lim = limits

        def part(pattern, vars_, lim):
            if not lim:
                return []
            rows = self.query(pattern, select_vars=vars_, limit=lim)
            names = [self.term(v).v for v in vars_]
            return [tuple(b.get(n) for n in names) for b in rows]

        return {
            "subject": part([(sym, "?/p", "?/o")], ["?/p", "?/o"], s_lim),
            "predicate": part([("?/s", sym, "?/o")], ["?/s", "?/o"], p_lim),
            "object": part([("?/s", "?/p", sym)], ["?/s", "?/p"], o_lim),
        }

    def construct(self, create_pattern, pattern) -> DataFrame:
        """CONSTRUCT: instantiate m triple templates per binding; duplicates
        KEPT (test_sparql_construct.clj:41-45). Returns TRIPLE_SCHEMA rows."""
        from kr_spark.plans.compiler import compile_construct

        return compile_construct(self, create_pattern, pattern)

    def construct_visit(self, create_pattern, pattern) -> Iterator[tuple]:
        df = self.construct(create_pattern, pattern)
        for r in df.toLocalIterator():
            s = Term(r.s_kind, r.s)
            p = Term("uri", r.p)
            o = Term(r.o_kind, r.o, r.o_lang or "", r.o_datatype or "")
            yield (s, p, o)

    # ---- rules (SURVEY §2.8) ----

    def run_forward_rule(self, rule: dict, target: "KB | None" = None) -> int:
        from kr_spark.operators.rules import run_forward_rule

        return run_forward_rule(self, rule, target or self)

    # ---- bulk load (SURVEY §2.1 S2) ----

    def load_ntriples(self, path_or_text: str) -> None:
        from kr_spark.sources.ntriples import load_ntriples

        load_ntriples(self, path_or_text)

    def load_rdf(self, path_or_text: str, fmt: str = "ntriples") -> None:
        """Format-dispatched RDF load (S2, rdf.clj:539-547 format keywords):
        ntriples | turtle | n3 | trig | rdfxml | trix."""
        fmt = fmt.lower().replace("-", "").replace("/", "")
        if fmt in ("ntriple", "ntriples", "nt"):
            return self.load_ntriples(path_or_text)
        if fmt in ("turtle", "ttl", "n3"):
            from kr_spark.sources.turtle import load_turtle

            return load_turtle(self, path_or_text)
        if fmt == "trig":
            from kr_spark.sources.turtle import load_trig

            return load_trig(self, path_or_text)
        if fmt in ("rdfxml", "xml"):
            from kr_spark.sources.xml_formats import load_rdfxml

            return load_rdfxml(self, path_or_text)
        if fmt == "trix":
            from kr_spark.sources.xml_formats import load_trix

            return load_trix(self, path_or_text)
        raise ValueError(f"unknown RDF format {fmt!r}")
