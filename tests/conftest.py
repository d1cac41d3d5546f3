import pytest
from hypothesis import settings
from pyspark.sql import SparkSession

# Every Hypothesis test draws the same examples on every run (seeded from
# the test's own source), so suite outcomes never depend on which examples
# happen to be drawn. Loaded here, before the test modules' @settings
# decorators run; Hypothesis's --hypothesis-profile flag still overrides
# it. To explore with fresh draws, load Hypothesis's own default profile:
#   pytest tests/ --hypothesis-profile=default [--hypothesis-seed=N]
settings.register_profile("derandomized", derandomize=True)
settings.load_profile("derandomized")


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("kr_spark_tests")
        # tiny fixtures: 1 shuffle partition kills per-stage task overhead
        .config("spark.sql.shuffle.partitions", "1")
        .config("spark.default.parallelism", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture()
def kb(spark):
    from kr_spark.kb import KB

    return KB(spark)


def load_fixture(kb, triples):
    kb.add_statements(triples)
    return kb


# FIXTURES.md §C fixtures (lifted from the reference tests; citations there)

TEST_TRIPLES = [  # C1, test_kb.clj:38-43
    ("ex/a", "foaf/name", "Johnny Lee Outlaw"),
    ("ex/a", "foaf/mbox", "<mailto:jlow@example.com>"),
    ("ex/b", "foaf/name", "Peter Goodguy"),
    ("ex/b", "foaf/mbox", "<mailto:peter@example.org>"),
    ("ex/c", "foaf/mbox", "<mailto:carol@example.org>"),
]

TEST_TRIPLES_6_1 = [  # C2, test_sparql.clj:33-40
    ("ex/a", "rdf/type", "foaf/Person"),
    ("ex/a", "foaf/name", "Alice"),
    ("ex/a", "foaf/mbox", "<mailto:alice@example.com>"),
    ("ex/a", "foaf/mbox", "<mailto:alice@work.example>"),
    ("ex/b", "rdf/type", "foaf/Person"),
    ("ex/b", "foaf/name", "Bob"),
]

TEST_TRIPLES_6_3 = [  # C3, test_sparql.clj:42-47
    ("ex/a", "foaf/name", "Alice"),
    ("ex/a", "foaf/homepage", "<http://work.example.org/alice/>"),
    ("ex/b", "foaf/name", "Bob"),
    ("ex/b", "foaf/mbox", "<mailto:bob@work.example>"),
]

TEST_TRIPLES_7 = [  # C4, test_sparql.clj:49-57
    ("ex/a", "dc10/title", "SPARQL Query Language Tutorial"),
    ("ex/a", "dc10/creator", "Alice"),
    ("ex/b", "dc11/title", "SPARQL Protocol Tutorial"),
    ("ex/b", "dc11/creator", "Bob"),
    ("ex/c", "dc10/title", "SPARQL"),
    ("ex/c", "dc11/title", "SPARQL (updated)"),
]

TEST_TRIPLES_10_2_1 = [  # C5, test_sparql.clj:59-64
    ("ex/a", "foaf/givenname", "Alice"),
    ("ex/a", "foaf/family_name", "Hacker"),
    ("ex/b", "foaf/firstname", "Bob"),
    ("ex/b", "foaf/surname", "Hacker"),
]

TEST_TRIPLES_NUMBERS = [  # C6, test_sparql.clj:66-77
    ("ex/a", "foaf/givenname", "Alice"),
    ("ex/a", "foaf/surname", "Hacker"),
    ("ex/a", "foaf/age", [40, "xsd/integer"]),
    ("ex/b", "foaf/firstname", "Bob"),
    ("ex/b", "foaf/surname", "Hacker"),
    ("ex/b", "foaf/age", 40),
    ("ex/c", "foaf/firstname", "Fred"),
    ("ex/c", "foaf/surname", "Hacker"),
    ("ex/c", "foaf/age", [50, "xsd/integer"]),
]

TEST_TRIPLES_LANG = [  # C7, test_sparql.clj:79-82
    ("ex/a", "foaf/firstname", "Alice"),
    ("ex/b", "foaf/firstname", ["Bob", "en"]),
    ("ex/c", "foaf/firstname", ["Bob"]),
]

TEST_TRIPLES_CUSTOM_TYPE = [  # C8, test_sparql.clj:84-90
    ("ex/a", "ex/p", ["foo", "ex/custom"]),
    ("ex/b", "ex/p", ["foo", "ex/custom2"]),
]

TEST_TRIPLES_PATHS = TEST_TRIPLES_NUMBERS + [  # C10, test_sparql_property_paths.clj:36-51
    ("ex/a", "foaf/knows", "ex/b"),
    ("ex/b", "foaf/knows", "ex/c"),
]

TEST_TRIPLES_MD5 = [  # C11, test_forward_rule.clj:72-82
    ("ex/a", "foaf/firstname", "Alice"),
    ("ex/a", "ex/hasBoss", "ex/boss1"),
    ("ex/a", "ex/atCompany", "ex/co1"),
    ("ex/b", "ex/hasBoss", "ex/boss1"),
    ("ex/b", "ex/atCompany", "ex/co1"),
    ("ex/c", "ex/hasBoss", "ex/boss2"),
    ("ex/c", "ex/atCompany", "ex/co2"),
]

TEST_TRIPLES_MD5_2 = [  # C11 variant, test_forward_rule.clj:84-93
    ("ex/a", "foaf/firstname", "Alice"),
    ("ex/a", "ex/hasBoss", "ex/boss1"),
    ("ex/a", "ex/atCompany", "ex/co1"),
    ("ex/b", "ex/hasBoss", "ex/boss2"),
    ("ex/b", "ex/atCompany", "ex/co1"),
    ("ex/c", "ex/hasBoss", "ex/boss2"),
    ("ex/c", "ex/atCompany", "ex/co2"),
]
