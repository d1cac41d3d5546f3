"""Triple store seam (SURVEY §4.4): pred-bucketed layout, idempotent
append (MERGE-INTO stand-in), predicate-pruned scans, KB save/load."""

import os
import re

import pytest
from pyspark.sql import functions as F

from kr_spark.kb import KB, TRIPLE_KEY, triple_row
from kr_spark.sources.store import ParquetTripleStore
from tests.conftest import TEST_TRIPLES_6_1, TEST_TRIPLES_7, load_fixture


def test_store_roundtrip_and_idempotent_append(kb, spark, tmp_path):
    load_fixture(kb, TEST_TRIPLES_6_1)
    path = str(tmp_path / "store")
    kb.save(path)

    back = KB.load(spark, path)
    assert back.size() == kb.size()

    # re-saving the same KB must not grow the store (set semantics)
    kb.save(path)
    assert KB.load(spark, path).size() == back.size()

    # appending one new + one duplicate triple adds exactly one row
    kb.add_statements([("ex/new", "foaf/name", "Newcomer")])
    kb.add_statements([("ex/a", "foaf/name", "Alice")])  # dup of fixture
    kb.save(path)
    assert KB.load(spark, path).size() == back.size() + 1


def test_store_layout_is_pred_bucketed(kb, spark, tmp_path):
    load_fixture(kb, TEST_TRIPLES_6_1)
    path = str(tmp_path / "store")
    kb.save(path, pred_buckets=4)
    data = os.path.join(path, "data")
    dirs = {d for d in os.listdir(data) if d.startswith("p_bucket=")}
    assert dirs  # physical partition dirs exist
    assert all(d.split("=")[1].isdigit() for d in dirs)
    assert os.path.exists(os.path.join(path, "manifest.json"))


def test_scan_predicate_prunes_to_one_bucket(kb, spark, tmp_path):
    load_fixture(kb, TEST_TRIPLES_6_1)
    path = str(tmp_path / "store")
    kb.save(path, pred_buckets=4)
    store = ParquetTripleStore(spark, path, pred_buckets=4)
    name_p = kb.term("foaf/name").v
    scanned = store.scan_predicate(name_p)
    assert scanned.count() == 2
    assert {r.o for r in scanned.collect()} == {"Alice", "Bob"}
    # the scan reads a single bucket directory, not the whole table
    files = scanned.inputFiles()
    assert files and all("p_bucket=" in f for f in files)
    buckets_read = {f.split("p_bucket=")[1].split("/")[0] for f in files}
    assert len(buckets_read) == 1


def test_loaded_kb_queries_identically(kb, spark, tmp_path):
    load_fixture(kb, TEST_TRIPLES_6_1)
    path = str(tmp_path / "store")
    kb.save(path)
    back = KB.load(spark, path)
    rows = back.query(
        [("?/p", "rdf/type", "foaf/Person"), ("?/p", "foaf/name", "?/n")]
    )
    assert {b["n"].v for b in rows} == {"Alice", "Bob"}


def test_iceberg_store_sql_generation(spark):
    # The Iceberg runtime jar is absent from this image; the DDL/MERGE the
    # store would execute is generated by pure methods and checked here.
    from kr_spark.sources.store import IcebergTripleStore

    st = IcebergTripleStore(spark, "cat.db.triples", pred_buckets=32)
    ddl = st.create_sql()
    assert "USING iceberg" in ddl
    assert "PARTITIONED BY (bucket(32, p))" in ddl
    assert "s_kind string" in ddl and "num_val decimal(38,9)" in ddl
    merge = st.merge_sql("src")
    assert merge.startswith("MERGE INTO cat.db.triples t USING src s ON ")
    # null-safe equality on every key column, insert-only semantics
    assert "t.o_lang <=> s.o_lang" in merge and "t.graph <=> s.graph" in merge
    assert merge.endswith("WHEN NOT MATCHED THEN INSERT *")


def test_open_store_falls_back_to_parquet(spark, tmp_path):
    from kr_spark.sources.store import ParquetTripleStore, open_store

    st = open_store(spark, str(tmp_path / "t"), iceberg_table="cat.db.t")
    assert isinstance(st, ParquetTripleStore)  # no runtime in this image


def test_iceberg_execution_paths_pinned():
    # VERDICT r2 #10: the Iceberg EXECUTION paths (ensure / overwrite /
    # append_idempotent) can't run here (no runtime jar), so pin their
    # contract against a recording mock: which SQL text executes, in what
    # order, and what dataframe staging precedes it.
    from kr_spark.sources.store import IcebergTripleStore
    from kr_spark.kb import TRIPLE_KEY

    class _RecDF:
        def __init__(self, log):
            self.log = log

        def select(self, *cols):
            self.log.append(("select", len(cols)))
            return self

        def dropDuplicates(self, keys):
            self.log.append(("dropDuplicates", tuple(keys)))
            return self

        def createOrReplaceTempView(self, name):
            self.log.append(("view", name))

    class _RecSpark:
        def __init__(self):
            self.sqls = []

        def sql(self, text):
            self.sqls.append(text)

    rec = _RecSpark()
    st = IcebergTripleStore(rec, "cat.db.triples", pred_buckets=16)

    st.ensure()
    assert rec.sqls == [st.create_sql()]

    log = []
    st.overwrite(_RecDF(log))
    assert rec.sqls[-1] == (
        "INSERT OVERWRITE cat.db.triples SELECT * FROM __kr_overwrite_src"
    )
    assert ("view", "__kr_overwrite_src") in log
    # ensure() ran again before the write (idempotent create)
    assert rec.sqls[-2] == st.create_sql()

    log = []
    st.append_idempotent(_RecDF(log))
    assert rec.sqls[-1] == st.merge_sql("__kr_merge_src")
    # the merge source is deduped on the full triple key before staging
    assert ("dropDuplicates", tuple(TRIPLE_KEY)) in log
    assert ("view", "__kr_merge_src") in log


def test_store_layout_comes_from_manifest(kb, spark, tmp_path):
    # A store written with 4 buckets and saved again with the defaults keeps
    # its 4-bucket layout, so a pruned scan still finds every triple.
    load_fixture(kb, TEST_TRIPLES_6_1)
    path = str(tmp_path / "store")
    kb.save(path, pred_buckets=4)
    again = KB.load(spark, path)
    again.add_statements([("ex/c", "foaf/name", "Carol")])
    again.save(path)

    store = ParquetTripleStore(spark, path)
    assert store.pred_buckets == 4
    name_p = kb.term("foaf/name").v
    scanned = ParquetTripleStore(spark, path, pred_buckets=4).scan_predicate(name_p)
    assert {r.o for r in scanned.collect()} == {"Alice", "Bob", "Carol"}
    with pytest.raises(ValueError, match="4 predicate buckets"):
        ParquetTripleStore(spark, path, pred_buckets=16)
    with pytest.raises(ValueError):
        KB.load(spark, path, pred_buckets=8)
    # a new store takes an explicit layout, else the default
    assert ParquetTripleStore(spark, str(tmp_path / "new")).pred_buckets == 16
    assert ParquetTripleStore(spark, str(tmp_path / "new"), 8).pred_buckets == 8


def test_first_save_keeps_set_semantics(kb, spark, tmp_path):
    # an unchecked duplicate is stored once, whether or not the store exists
    kb.add("ex/a", "ex/p", "ex/b")
    kb.add_unchecked("ex/a", "ex/p", "ex/b")
    kb.save(str(tmp_path / "new"))
    assert KB.load(spark, str(tmp_path / "new")).size() == 1
    assert kb.size() == 1  # the save compacted the KB itself


def _text(path: str) -> str:
    with open(path) as f:
        return f.read()


class _WriterKilled(Exception):
    pass


def test_manifest_is_replaced_atomically_with_snapshot_id(kb, spark, tmp_path, monkeypatch):
    import json

    import kr_spark.sources.store as store_mod

    path = str(tmp_path / "store")
    load_fixture(kb, TEST_TRIPLES_6_1)
    kb.save(path)
    manifest = os.path.join(path, "manifest.json")
    assert json.loads(_text(manifest))["snapshot"] == 1
    kb.add_statements([("ex/c", "foaf/name", "Carol")])
    kb.save(path)
    before = _text(manifest)
    assert json.loads(before)["snapshot"] == 2

    # a writer killed half-way through its manifest leaves the old one whole
    def torn_dump(obj, f):
        f.write('{"op": "app')
        raise _WriterKilled

    monkeypatch.setattr(store_mod.json, "dump", torn_dump)
    kb.add_statements([("ex/d", "foaf/name", "Dan")])
    with pytest.raises(_WriterKilled):
        kb.save(path)
    assert _text(manifest) == before
    monkeypatch.undo()
    assert ParquetTripleStore(spark, path).snapshot == 2


def _stored_keys(spark, path) -> list:
    rows = ParquetTripleStore(spark, path).read().select(*TRIPLE_KEY).collect()
    return [tuple(r) for r in rows]


def _keys(kb, triples) -> set:
    out = set()
    for t in triples:
        r = triple_row(kb.term(t[0]), kb.term(t[1]), kb.term(t[2]))
        out.add(tuple(r[k] for k in TRIPLE_KEY))
    return out


NEW_TRIPLES = [
    ("ex/c", "rdf/type", "foaf/Person"),
    ("ex/c", "foaf/name", "Carol"),
    ("ex/c", "foaf/mbox", "<mailto:carol@example.org>"),
]
OTHER_TRIPLES = [
    ("ex/b", "foaf/name", "Bob"),  # also in TEST_TRIPLES_6_1
    ("ex/d", "foaf/name", "Dan"),
    ("ex/d", "foaf/knows", "ex/c"),
]


def _seq_add_with_dups(spark, p, q):
    kb = KB.load(spark, p)
    kb.add_statements(NEW_TRIPLES + TEST_TRIPLES_6_1[:3])
    kb.save(p)
    return p, set(NEW_TRIPLES) | set(TEST_TRIPLES_6_1), "delta"


def _seq_unchecked_compact(spark, p, q):
    kb = KB.load(spark, p)
    kb.add_unchecked("ex/a", "foaf/name", "Alice")  # stored already
    kb.add_unchecked("ex/c", "foaf/name", "Carol")
    kb.add_unchecked("ex/c", "foaf/name", "Carol")
    kb.compact()
    assert kb.size() == len(TEST_TRIPLES_6_1) + 1
    kb.save(p)
    return p, set(TEST_TRIPLES_6_1) | {("ex/c", "foaf/name", "Carol")}, "delta"


def _seq_load_p_save_q(spark, p, q):
    other = KB(spark)
    other.add_statements(OTHER_TRIPLES)
    other.save(q)
    kb = KB.load(spark, p)
    kb.add_statements(NEW_TRIPLES)
    kb.save(q)
    return q, set(TEST_TRIPLES_6_1) | set(NEW_TRIPLES) | set(OTHER_TRIPLES), "full"


def _seq_writer_between_load_and_save(spark, p, q):
    a = KB.load(spark, p)
    b = KB.load(spark, p)
    b.add_statements(OTHER_TRIPLES + NEW_TRIPLES[:1])
    b.save(p)  # p moves on to a snapshot `a` was not opened at
    a.add_statements(NEW_TRIPLES)
    a.save(p)
    want = set(TEST_TRIPLES_6_1) | set(NEW_TRIPLES) | set(OTHER_TRIPLES)
    return p, want, "full"


@pytest.mark.parametrize(
    "sequence",
    [
        _seq_add_with_dups,
        _seq_unchecked_compact,
        _seq_load_p_save_q,
        _seq_writer_between_load_and_save,
    ],
    ids=lambda f: f.__name__[len("_seq_"):],
)
def test_delta_save_matches_set_model(kb, spark, tmp_path, monkeypatch, sequence):
    # The store after each sequence holds exactly the set the model says,
    # and the last save handed over only the added rows when the KB still
    # matched the store's snapshot, the whole KB otherwise.
    p, q = str(tmp_path / "p"), str(tmp_path / "q")
    load_fixture(kb, TEST_TRIPLES_6_1)
    kb.save(p, pred_buckets=4)

    handed = []
    append = ParquetTripleStore.append_idempotent

    def spy(self, df):
        handed.append(df.count())
        return append(self, df)

    monkeypatch.setattr(ParquetTripleStore, "append_idempotent", spy)
    target, model, path_taken = sequence(spark, p, q)

    stored = _stored_keys(spark, target)
    assert len(stored) == len(set(stored))  # a set, no duplicate rows
    assert set(stored) == _keys(kb, model)
    if path_taken == "delta":
        assert handed[-1] < len(TEST_TRIPLES_6_1)
    else:
        assert handed[-1] >= len(TEST_TRIPLES_6_1)


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_save_without_adds_runs_no_job(kb, spark, tmp_path):
    path = str(tmp_path / "store")
    load_fixture(kb, TEST_TRIPLES_6_1)
    kb.save(path)
    manifest = _text(os.path.join(path, "manifest.json"))
    loaded = KB.load(spark, path)
    assert _jobs_in(spark, "kr-save-no-adds-loaded", lambda: loaded.save(path)) == []
    assert _jobs_in(spark, "kr-save-no-adds-saved", lambda: kb.save(path)) == []
    # nothing written: the manifest (and its snapshot id) is untouched
    assert _text(os.path.join(path, "manifest.json")) == manifest


def test_delta_save_probes_only_the_delta_buckets(kb, spark, tmp_path, monkeypatch):
    path = str(tmp_path / "store")
    load_fixture(kb, TEST_TRIPLES_6_1 + TEST_TRIPLES_7)
    kb.save(path, pred_buckets=8)
    stored = {d for d in os.listdir(os.path.join(path, "data")) if d.startswith("p_bucket=")}

    probes = []
    read_predicates = ParquetTripleStore._read_predicates

    def spy(self, preds):
        probes.append(read_predicates(self, preds))
        return probes[-1]

    monkeypatch.setattr(ParquetTripleStore, "_read_predicates", spy)
    kb.add_statements([("ex/c", "foaf/name", "Carol")])
    kb.save(path)

    name_p = kb.term("foaf/name").v
    want = spark.range(1).select(F.pmod(F.xxhash64(F.lit(name_p)), F.lit(8))).first()[0]
    assert len(stored) > 1 and f"p_bucket={want}" in stored
    (probe,) = probes
    plan = probe._jdf.queryExecution().executedPlan().toString()
    part_filters = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "p_bucket" in part_filters
    buckets = {int(b) for b in re.findall(r"\b\d+\b", re.sub(r"#\d+L?", "", part_filters))}
    assert buckets == {want}
    # building the pruned probe ran no job of its own
    assert _jobs_in(spark, "kr-probe-plan", lambda: read_predicates(
        ParquetTripleStore(spark, path), [name_p]
    )) == []


def test_empty_store_roundtrip(spark, tmp_path):
    # a store with no triples yet loads as an empty KB and takes appends
    path = str(tmp_path / "store")
    KB(spark).save(path)
    kb = KB.load(spark, path)
    assert kb.size() == 0
    kb.add_statements(TEST_TRIPLES_6_1)
    kb.save(path)
    assert KB.load(spark, path).size() == len(TEST_TRIPLES_6_1)
