"""Query shapes of the `query_mix` and `kb_update` workloads.

Each shape draws its constants from a seeded `random.Random`, runs through
the public KB API (`query`, `count`, `ask`, `construct`, `sparql_count`) and
has a DuckDB twin over the same parquet tables that states the expected
answer as plain SQL, after the `entry_queries.ORACLES` twins of the same
shapes. A shape's result is a row count (or a bool for ASK); the benchmark
compares it with the twin's.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Callable

from kr_spark.entry_queries import CUST, NAT, RE, REG, SUP, TY

NS = {"kgc": CUST, "kgn": NAT, "kgr": REG, "kgs": SUP, "rel": RE, "ty": TY}

N_NATIONS, N_REGIONS = 25, 5
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@dataclass(frozen=True)
class Shape:
    name: str
    draw: Callable[[random.Random], tuple]
    run: Callable  # (kb, *constants) -> int | bool
    sql: Callable[..., str]  # (*constants) -> one-value DuckDB query


def _bgp4(kb, k):
    return len(
        kb.query(
            [
                ("?/c", "rdf/type", "ty/Customer"),
                ("?/c", "foaf/name", "?/cname"),
                ("?/c", "rel/inNation", "?/n"),
                ("?/n", "foaf/name", f"NATION_{k}"),
            ]
        )
    )


def _count3(kb, r):
    return kb.count(
        [
            ("?/c", "rdf/type", "ty/Customer"),
            ("?/c", "rel/inNation", "?/n"),
            ("?/n", "rel/inRegion", f"kgr/{r}"),
        ]
    )


def _optional(kb, bal, k):
    return kb.count(
        [
            ("?/n", "rdf/type", "ty/Nation"),
            ("?/n", "foaf/name", "?/nname"),
            (
                ":optional",
                ("?/c", "rel/inNation", "?/n"),
                ("?/c", "rel/acctbal", "?/bal"),
                (">", "?/bal", bal),
            ),
            (":optional", ("?/n", "rel/inRegion", "?/r"), ("=", "?/nname", f"NATION_{k}")),
        ]
    )


def _union(kb, k):
    # §18.3: the supplier branch leaves ?n unbound and must still join
    return kb.count(
        [
            (
                ":union",
                [
                    ("?/x", "rdf/type", "ty/Customer"),
                    ("?/x", "rel/inNation", f"kgn/{k}"),
                    ("?/x", "foaf/name", "?/n"),
                ],
                [("?/x", "rdf/type", "ty/Supplier"), ("?/x", "rel/inNation", f"kgn/{k}")],
            ),
            ("?/x", "foaf/name", "?/n"),
        ]
    )


def _filter_bind(kb, lo):
    return kb.count(
        [
            ("?/c", "rel/acctbal", "?/bal"),
            ("?/c", "rdf/type", "ty/Customer"),
            (":and", (">=", "?/bal", lo), ("<", "?/bal", lo + 500)),
            (":bind", (":xsd-cast", "integer", (":strafter", (":str", "?/c"), [CUST])), "?/key"),
            (":bind", ("-", "?/key", ("*", 7, (":floor", ("/", "?/key", 7)))), "?/m"),
            (":bind", ("/", 1000, "?/m"), "?/inv"),
        ]
    )


def _construct(kb, r):
    return kb.construct(
        [("?/c", "rel/located", "?/n"), ("?/c", "rdf/type", "ty/Located")],
        [
            ("?/c", "rdf/type", "ty/Customer"),
            ("?/c", "rel/inNation", "?/n"),
            ("?/n", "rel/inRegion", f"kgr/{r}"),
        ],
    ).count()


def _path_seq(kb, r):
    return kb.count(
        [
            ("?/c", ("rel/inNation", "rel/inRegion"), f"kgr/{r}"),
            ("?/c", "rdf/type", "ty/Customer"),
        ]
    )


def _path_plus(kb, k):
    return kb.count([(f"kgn/{k}", ["rel/parent", "+"], "?/y")])


def _sparql_count(kb, k, seg):
    return kb.sparql_count(
        f"""SELECT ?c WHERE {{ ?c a ty:Customer . ?c rel:inNation kgn:{k} .
                               ?c rel:mktsegment "{seg}"@en . }}"""
    )


def _ask(kb, bal):
    return kb.ask(
        [("?/c", "rdf/type", "ty/Customer"), ("?/c", "rel/acctbal", "?/b"), (">", "?/b", bal)]
    )


_CN = "customer JOIN nation ON c_nationkey = n_nationkey"

SHAPES = [
    Shape(
        "bgp4",
        lambda g: (g.randrange(N_NATIONS),),
        _bgp4,
        lambda k: f"SELECT COUNT(*) FROM {_CN} WHERE n_name = 'NATION_{k}'",
    ),
    Shape(
        "count3",
        lambda g: (g.randrange(N_REGIONS),),
        _count3,
        lambda r: f"SELECT COUNT(*) FROM {_CN} WHERE n_regionkey = {r}",
    ),
    Shape(
        "optional",
        lambda g: (g.randrange(9000, 9950, 50), g.randrange(N_NATIONS)),
        _optional,
        lambda bal, k: f"""SELECT COUNT(*) FROM nation LEFT JOIN
              (SELECT c_nationkey FROM customer WHERE c_acctbal > {bal}) rich
              ON rich.c_nationkey = n_nationkey""",
    ),
    Shape(
        "union",
        lambda g: (g.randrange(N_NATIONS),),
        _union,
        lambda k: f"""SELECT (SELECT COUNT(*) FROM customer WHERE c_nationkey = {k})
                           + (SELECT COUNT(*) FROM supplier WHERE s_nationkey = {k})""",
    ),
    Shape(
        "filter_bind",
        lambda g: (g.randrange(0, 9500, 500),),
        _filter_bind,
        lambda lo: f"""SELECT COUNT(*) FROM customer
                       WHERE c_acctbal >= {lo} AND c_acctbal < {lo + 500}""",
    ),
    Shape(
        "construct",
        lambda g: (g.randrange(N_REGIONS),),
        _construct,
        lambda r: f"SELECT 2 * COUNT(*) FROM {_CN} WHERE n_regionkey = {r}",
    ),
    Shape(
        "path_seq",
        lambda g: (g.randrange(N_REGIONS),),
        _path_seq,
        lambda r: f"SELECT COUNT(*) FROM {_CN} WHERE n_regionkey = {r}",
    ),
    Shape(
        "path_plus",
        # nations 15..24 sit 4 levels below the root: every draw runs the
        # same number of fixpoint rounds
        lambda g: (g.randrange(15, N_NATIONS),),
        _path_plus,
        # ancestors of nation k in the parent(n) = floor((n-1)/2) tree
        lambda k: f"""WITH RECURSIVE anc(a) AS (
                SELECT (n_nationkey - 1) // 2 FROM nation
                WHERE n_nationkey = {k} AND n_nationkey > 0
                UNION
                SELECT (a - 1) // 2 FROM anc WHERE a > 0)
              SELECT COUNT(*) FROM anc""",
    ),
    Shape(
        "sparql_count",
        lambda g: (g.randrange(N_NATIONS), g.choice(SEGMENTS)),
        _sparql_count,
        lambda k, seg: f"""SELECT COUNT(*) FROM customer
                           WHERE c_nationkey = {k} AND c_mktsegment = '{seg}'""",
    ),
    Shape(
        "ask",
        # the top balance is near 9999.99: both answers occur
        lambda g: (g.randrange(9980, 10020),),
        _ask,
        lambda bal: f"SELECT EXISTS (SELECT 1 FROM customer WHERE c_acctbal > {bal})",
    ),
]
SHAPES_BY_NAME = {s.name: s for s in SHAPES}


# triples derive_triples makes from the tables: 6 per customer, 4 per nation
# plus 1 parent edge per non-root nation, 2 per region, 3 per supplier and
# per order, and 10 schema triples
BASE_TRIPLES_SQL = """SELECT 6 * (SELECT COUNT(*) FROM customer)
    + 4 * (SELECT COUNT(*) FROM nation) + (SELECT COUNT(*) FROM nation WHERE n_nationkey > 0)
    + 2 * (SELECT COUNT(*) FROM region) + 3 * (SELECT COUNT(*) FROM supplier)
    + 3 * (SELECT COUNT(*) FROM orders) + 10"""


def stream(seed: int, n_cycles: int) -> list[tuple[Shape, tuple]]:
    """`n_cycles` cycles; each runs every shape once, in a seeded order, with
    seeded constants. Whole cycles keep the shape mix equal across seeds."""
    g = random.Random(seed)
    out = []
    for _ in range(n_cycles):
        order = SHAPES[:]
        g.shuffle(order)
        out += [(s, s.draw(g)) for s in order]
    return out


class Oracle:
    """DuckDB over the input parquet files; one expected value per
    (shape, constants), computed once."""

    def __init__(self, tables: dict[str, str]) -> None:
        import duckdb

        self._con = duckdb.connect()
        for name, path in tables.items():
            self._con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self._memo: dict[tuple, object] = {}

    def scalar(self, sql: str):
        return self._con.execute(sql).fetchone()[0]

    def rows(self, sql: str) -> list[tuple]:
        return self._con.execute(sql).fetchall()

    def expect(self, shape: Shape, consts: tuple):
        key = (shape.name, consts)
        if key not in self._memo:
            value = self.scalar(shape.sql(*consts))
            self._memo[key] = bool(value) if shape.name == "ask" else int(value)
        return self._memo[key]

    def close(self) -> None:
        self._con.close()
