"""SQL backend: every query shape must produce results identical to the
DataFrame backend (cross-backend consistency — the reference's Spark
vs Presto executor pair, minus the second engine)."""

import pytest

from sparkall_spark.engine import Engine
from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings

SHAPES = {
    "single_star": """
        SELECT DISTINCT ?name ?size WHERE {
            ?p a sa:Part ; sa:name ?name ; sa:size ?size .
            FILTER (?size > 30)
        } ORDER BY ?name DESC(?size) LIMIT 25
    """,
    "two_star_join": """
        SELECT ?cname ?nname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }
    """,
    "five_star": """
        SELECT ?cname ?nname ?rname ?qty WHERE {
            ?l a sa:Lineitem ; sa:order ?o ; sa:quantity ?qty .
            ?o a sa:Orders ; sa:customer ?c .
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname ; sa:region ?r .
            ?r a sa:Region ; sa:name ?rname .
            FILTER (?qty > 45)
        }
    """,
    "aggregate": """
        SELECT ?flag (SUM(?qty) AS ?sum_qty) (COUNT(*) AS ?n) WHERE {
            ?l a sa:Lineitem ; sa:returnflag ?flag ; sa:quantity ?qty .
        } GROUP BY ?flag ORDER BY ?flag
    """,
    "regex": """
        SELECT ?name WHERE {
            ?p a sa:Part ; sa:name ?name .
            FILTER regex(?name, "%o%")
        }
    """,
    "optional": """
        SELECT ?name ?totalprice WHERE {
            ?c a sa:Customer ; sa:name ?name .
            OPTIONAL { ?o a sa:Orders ; sa:customer ?c ; sa:totalprice ?totalprice . }
        }
    """,
    "transform": """
        SELECT ?cname ?nname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }
        TRANSFORM(?c?n.l.toInt.scl(+1) && ?c?n.r.toInt.scl(+1))
    """,
    "transform_skp": """
        SELECT ?cname ?nname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }
        TRANSFORM(?c?n.l.skp(3))
    """,
    "union": """
        SELECT ?name WHERE {
            { ?c a sa:Customer ; sa:name ?name ; sa:acctbal ?bal .
              FILTER (?bal > 9000) }
            UNION
            { ?s a sa:Supplier ; sa:name ?name . }
        }
    """,
    # BSBM Q7/Q8 shape: FILTER on a *join variable* — ?p is both an
    # object of star ?l (sa:part) and the subject of star ?p.  Must
    # resolve to l_part_sa on star l and p_ID on star p (regression for
    # the r2 UNRESOLVED_COLUMN bug in both backends).
    "join_var_filter": """
        SELECT ?pname ?qty WHERE {
            ?l a sa:Lineitem ; sa:part ?p ; sa:quantity ?qty .
            ?p a sa:Part ; sa:name ?pname .
            FILTER (?p = 9)
        }
    """,
    "subject_projection": """
        SELECT ?o ?totalprice WHERE {
            ?o a sa:Orders ; sa:totalprice ?totalprice .
            FILTER (?totalprice > 400000)
        }
    """,
}


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, tpch_mappings(sf_dir))


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(str(r[c]) for c in cols) for r in df.collect()
    )


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_backends_agree(engine, shape):
    q = PREFIX_BLOCK + SHAPES[shape]
    df_rows = _rows(engine.sparql(q, backend="dataframe"))
    sql_rows = _rows(engine.sparql(q, backend="sql"))
    assert df_rows == sql_rows
    assert len(df_rows) > 0


def test_mapping_skp_on_second_source_filters_only_that_branch(spark, sf_dir, duck):
    """A mapping-declared (RML FnO) skp on a NON-first source must filter
    that source's rows only, in both backends (regression: the sql
    backend used to keep only the first source's filter and apply it to
    the whole UNION ALL)."""
    from tests.conftest import assert_matches_oracle

    from sparkall_spark.fixtures import NS, _m
    from sparkall_spark.mappings import MappingIndex

    a = _m("Nation", "nation", sf_dir, "n_nationkey", {"name": "n_name"})
    b = _m("NationB", "nation", sf_dir, "n_nationkey", {"name": "n_name"})
    b.class_iri = NS + "Nation"
    b.transforms = {NS + "name": ("skp(NATION_3)",)}
    engine = Engine(spark, MappingIndex([a, b]))
    query = PREFIX_BLOCK + "SELECT ?name WHERE { ?n a sa:Nation ; sa:name ?name . }"
    oracle = """
        SELECT n_name AS name FROM nation
        UNION ALL
        SELECT n_name AS name FROM nation WHERE n_name <> 'NATION_3'
    """
    # the skipped value must actually exist or this test is vacuous:
    # 25 rows unfiltered + 24 from the skp'd source
    assert engine.sparql(query, backend="sql").count() == 49
    assert_matches_oracle(engine.sparql(query, backend="dataframe"), duck, oracle)
    assert_matches_oracle(engine.sparql(query, backend="sql"), duck, oracle)


def test_backslash_literals_agree_across_backends(engine):
    """Spark SQL's default parser eats backslashes in string literals;
    the SQL backend must double them so BIND literals and rlike patterns
    render bit-identical to the Column backend (r4; advisor finding)."""
    q = (
        PREFIX_BLOCK
        + r"""
        SELECT ?name ?tagged WHERE {
            ?r a sa:Region ; sa:name ?name .
            FILTER rlike(?name, "^\w+\s\w+$")
            BIND(CONCAT(?name, "\t-tag") AS ?tagged)
        }
        """
    )
    df_rows = _rows(engine.sparql(q, backend="dataframe"))
    sql_rows = _rows(engine.sparql(q, backend="sql"))
    assert df_rows == sql_rows
    assert len(df_rows) > 0
    # "\t" is a SPARQL ECHAR and decodes to a tab; "\w" and "\s" are
    # not, so the rlike pattern keeps its backslashes verbatim
    assert all(r[1].endswith("\t-tag") for r in df_rows)


@pytest.fixture(scope="module")
def escaped_engine(spark, tmp_path_factory):
    """One entity whose names hold the characters SPARQL escapes."""
    from sparkall_spark.fixtures import NS
    from sparkall_spark.mappings import EntityMapping, MappingIndex

    path = str(tmp_path_factory.mktemp("echar") / "names")
    names = ['x"y', "a' OR 1=1", "back\\slash", "tab\there", "plain"]
    spark.createDataFrame(list(enumerate(names)), "id int, name string") \
        .write.parquet(path)
    return Engine(spark, MappingIndex([EntityMapping(
        name="Thing", source=path, source_type="parquet", id_attr="id",
        predicates={NS + "name": "name"}, class_iri=NS + "Thing",
    )]))


@pytest.mark.parametrize("literal, value", [
    (r'"x\"y"', 'x"y'),
    (r'"a\' OR 1=1"', "a' OR 1=1"),
    (r'"back\\slash"', "back\\slash"),
    (r'"tab\there"', "tab\there"),
])
@pytest.mark.parametrize("backend", ["dataframe", "sql"])
def test_echar_escapes_decode_in_every_literal_position(escaped_engine, backend, literal, value):
    """SPARQL 1.1 §19.7: string literals decode their ECHAR escapes in
    FILTER, VALUES, triple objects and BIND, on both backends."""
    head = PREFIX_BLOCK + "SELECT ?name WHERE { ?t a sa:Thing ; sa:name ?name . "
    for body in (f"FILTER (?name = {literal}) }}",
                 f"VALUES ?name {{ {literal} }} }}",
                 f"?t sa:name {literal} . }}"):
        got = escaped_engine.sparql(head + body, backend=backend).collect()
        assert [r.name for r in got] == [value], body
    q = (PREFIX_BLOCK + "SELECT ?v WHERE { ?t a sa:Thing ; sa:name ?name . "
         f'FILTER (?name = "plain") BIND(CONCAT(?name, {literal}) AS ?v) }}')
    assert [r.v for r in escaped_engine.sparql(q, backend=backend).collect()] \
        == ["plain" + value]


def test_to_sql_is_single_statement(engine):
    sql = engine.to_sql(PREFIX_BLOCK + SHAPES["five_star"])
    assert sql.count("SELECT") >= 5  # one subquery per star + outer
    assert ";" not in sql
    assert "JOIN" in sql


def test_every_registry_sparql_entry_agrees_across_backends(spark):
    """Sweep: EVERY SPARQL entry in the driver registry must compile
    through the single-SQL backend and produce exactly the DataFrame
    backend's rows.  Guarantees the compiled-SQL surface covers the
    whole registered fragment, not just the driver-routed subset."""
    import __spark_entry__ as E
    from sparkall_spark.fixtures import tpch_mappings
    from sparkall_spark.engine import Engine

    engine = Engine(spark, tpch_mappings("/root/testdata/sf0.001"))
    checked = 0
    from sparkall_spark.fixtures import PREFIX_BLOCK

    for name, (text, _oracle) in E.SPARQL_QUERIES.items():
        q = PREFIX_BLOCK + text
        a = sorted(map(tuple, engine.sparql(q).collect()))
        b = sorted(map(tuple, engine.sparql(q, backend="sql").collect()))
        assert a == b, f"backend disagreement on {name}"
        checked += 1
    assert checked >= 20  # the whole SPARQL side of the registry


def test_broadcast_mappings_emit_join_hints(spark):
    """Mappings flagged broadcast surface as /*+ BROADCAST(star) */
    hints in the compiled SQL (the DataFrame twin forces F.broadcast;
    at 100 TB the SQL backend's fresh views have no size stats)."""
    from sparkall_spark.engine import Engine
    from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings

    engine = Engine(spark, tpch_mappings("/root/testdata/sf0.001"))
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?cname ?nname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }
        """
    )
    sql = engine.to_sql(q)
    assert "/*+ BROADCAST(`n`) */" in sql  # nation is broadcast-flagged
    plan = (
        engine.sparql(q, backend="sql")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
