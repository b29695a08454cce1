"""Source registry coverage: csv, json, orc readers feeding the engine;
multi-format union for one star; unknown-type error."""

import pytest

from tests.conftest import assert_matches_oracle

from sparkall_spark.engine import Engine
from sparkall_spark.fixtures import NS
from sparkall_spark.mappings import EntityMapping, MappingIndex
from sparkall_spark.sources import load_source


@pytest.fixture(scope="module")
def staged(spark, sf_dir, tmp_path_factory):
    """Stage the nation table as csv, json, and orc."""
    root = tmp_path_factory.mktemp("fmt")
    df = spark.read.parquet(f"{sf_dir}/nation.parquet")
    paths = {}
    for fmt in ("csv", "json", "orc"):
        p = str(root / fmt)
        w = df.coalesce(1).write.mode("overwrite")
        if fmt == "csv":
            w.option("header", "true").csv(p)
        elif fmt == "json":
            w.json(p)
        else:
            w.orc(p)
        paths[fmt] = p
    return paths


def _nation_mapping(path: str, fmt: str, name: str = "Nation") -> EntityMapping:
    return EntityMapping(
        name=name,
        source=path,
        source_type=fmt,
        id_attr="n_nationkey",
        predicates={NS + "name": "n_name", NS + "region": "n_regionkey"},
        class_iri=NS + "Nation",
    )


@pytest.mark.parametrize("fmt", ["csv", "json", "orc"])
def test_format_roundtrip_through_engine(spark, duck, staged, fmt):
    engine = Engine(spark, MappingIndex([_nation_mapping(staged[fmt], fmt)]))
    df = engine.sparql(
        f"""
        PREFIX sa: <{NS}>
        SELECT ?n ?name WHERE {{
            ?n a sa:Nation ; sa:name ?name ; sa:region ?r .
            FILTER (?r != 0)
        }}
        """
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT n_nationkey AS n, n_name AS name
        FROM nation WHERE n_regionkey <> 0
        """,
    )


def test_mixed_format_union_star(spark, duck, staged):
    """One star served by a csv source AND a json source -> union
    (the reference's multi-source scenario spans actual stores;
    here two file formats prove the same dispatch+union path)."""
    idx = MappingIndex(
        [
            _nation_mapping(staged["csv"], "csv", "NationCsv"),
            _nation_mapping(staged["json"], "json", "NationJson"),
        ]
    )
    df = Engine(spark, idx).sparql(
        f"""
        PREFIX sa: <{NS}>
        SELECT ?name WHERE {{ ?n a sa:Nation ; sa:name ?name ; sa:region ?r . }}
        """
    )
    assert_matches_oracle(
        df,
        duck,
        "SELECT n_name AS name FROM nation UNION ALL SELECT n_name AS name FROM nation",
    )


def test_unknown_source_type(spark):
    bad = _nation_mapping("/nope", "carrier_pigeon")
    with pytest.raises(ValueError, match="unknown source type"):
        load_source(spark, bad)


def test_csv_schema_inference_types(spark, staged):
    df = load_source(spark, _nation_mapping(staged["csv"], "csv"))
    kinds = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert kinds["n_nationkey"] == "int"
    assert kinds["n_name"] == "string"


# ---------------------------------------------------------------------------
# Remote-store reader contracts: no live stores exist in this container,
# so assert the exact (format, options) tuples built from the reference's
# own config shapes (/root/reference/evaluation/input_files/config:4-53)
# ---------------------------------------------------------------------------


def _mapping_from_entry(entry):
    from sparkall_spark.mappings import EntityMapping

    return EntityMapping(
        name=entry.entity,
        source=entry.source,
        source_type=entry.type,
        id_attr="nr",
        predicates={},
        options=entry.options,
    )


@pytest.fixture(scope="module")
def ref_catalog():
    from pathlib import Path

    from sparkall_spark.mappings import SourceCatalog

    return SourceCatalog.from_json(
        Path(__file__).parent / "data" / "ref_style_config.json"
    )


@pytest.mark.parametrize(
    "entity,expected_fmt,expected_opts",
    [
        (
            "Offer",
            "mongodb",
            {
                "connection.uri": "mongodb://127.0.0.1/bsbm.offers",
                "database": "bsbm",
                "collection": "offers",
                "partitioner": "com.mongodb.spark.sql.connector.read."
                "partitioner.PaginateBySizePartitioner",
            },
        ),
        (
            "Product",
            "org.apache.spark.sql.cassandra",
            {"keyspace": "db", "table": "product"},
        ),
        (
            "Review2",
            "org.elasticsearch.spark.sql",
            {"es.nodes": "localhost", "es.port": "9200", "es.resource": "bsbm/review"},
        ),
        (
            "Producer",
            "jdbc",
            {
                "url": "jdbc:mysql://localhost:3306/benchmark?useUnicode=true"
                "&useJDBCCompliantTimezoneShift=true"
                "&useLegacyDatetimeCode=false&serverTimezone=UTC",
                "driver": "com.mysql.cj.jdbc.Driver",
                "dbtable": "producer",
                "user": "root",
                "password": "root",
                "partitionColumn": "nr",
                "lowerBound": "1",
                "upperBound": "100000",
                "numPartitions": "32",
            },
        ),
    ],
)
def test_remote_reader_spec_contract(ref_catalog, entity, expected_fmt, expected_opts):
    from sparkall_spark.sources.jdbc import jdbc_read_spec
    from sparkall_spark.sources.nosql import (
        cassandra_read_spec,
        elasticsearch_read_spec,
        mongodb_read_spec,
    )

    spec_fns = {
        "mongodb": mongodb_read_spec,
        "cassandra": cassandra_read_spec,
        "elasticsearch": elasticsearch_read_spec,
        "jdbc": jdbc_read_spec,
    }
    entry = next(e for e in ref_catalog.entries if e.entity == entity)
    fmt, opts = spec_fns[entry.type](_mapping_from_entry(entry))
    assert fmt == expected_fmt
    assert opts == expected_opts


def test_mongo_uri_with_extra_options():
    """Helpers.scala:154-161: options suffix appends as ?query-string."""
    from sparkall_spark.sources.nosql import mongo_uri

    assert (
        mongo_uri(
            {"url": "h1,h2:27002", "database": "db", "collection": "offer",
             "options": "replicaSet=mongo-rs"}
        )
        == "mongodb://h1,h2:27002/db.offer?replicaSet=mongo-rs"
    )


def test_jdbc_dbtable_from_source_convention():
    """A //Table source (the reference's convention) becomes dbtable
    when the option is absent."""
    from sparkall_spark.mappings import EntityMapping
    from sparkall_spark.sources.jdbc import jdbc_read_spec

    m = EntityMapping(
        name="Producer", source="//Producer", source_type="jdbc",
        id_attr="nr", predicates={},
        options={"url": "jdbc:mysql://x/db", "driver": "d"},
    )
    fmt, opts = jdbc_read_spec(m)
    assert opts["dbtable"] == "Producer"


def test_text_source_reader(spark, tmp_path):
    from sparkall_spark.mappings import EntityMapping
    from sparkall_spark.sources import load_source

    f = tmp_path / "corpus.txt"
    f.write_text("alpha doc one\nbeta doc two\ngamma doc three\n")
    m = EntityMapping(
        name="RawText", source=str(f), source_type="text",
        id_attr="line_id", predicates={}, class_iri=None,
    )
    df = load_source(spark, m)
    assert set(df.columns) == {"value", "line_id"}
    vals = [r["value"] for r in df.orderBy("line_id").collect()]
    assert vals == ["alpha doc one", "beta doc two", "gamma doc three"]
    assert df.count() == 3
    # line_id is an opaque unique key (monotonically_increasing_id), not
    # a stable line number — uniqueness is the whole contract
    assert df.select("line_id").distinct().count() == 3


def test_text_source_wholetext_file_key(spark, tmp_path):
    """wholetext=true: one row per file with the input path as the
    deterministic document key (r4; line_id alone is partition-layout
    dependent and was wrongly documented as deterministic)."""
    from sparkall_spark.mappings import EntityMapping
    from sparkall_spark.sources import load_source

    (tmp_path / "a.txt").write_text("first doc\nstill first")
    (tmp_path / "b.txt").write_text("second doc")
    m = EntityMapping(
        name="Docs", source=str(tmp_path), source_type="text",
        id_attr="file", predicates={}, class_iri=None,
        options={"wholetext": "true"},
    )
    df = load_source(spark, m)
    assert set(df.columns) == {"value", "line_id", "file"}
    rows = {r["file"].rsplit("/", 1)[-1]: r["value"] for r in df.collect()}
    assert rows == {
        "a.txt": "first doc\nstill first",
        "b.txt": "second doc",
    }


def test_jdbc_live_roundtrip_derby(spark, duck, sf_dir, tmp_path):
    """LIVE end-to-end JDBC: the engine reads a real database through
    the jdbc source path (Derby embedded — in the Spark JVM, no server
    needed).  Closes the 'no live remote-store read' gap for JDBC: the
    nation fixture is loaded into Derby, mapped as a jdbc source, and a
    SPARQL join over it must hash-match the parquet-backed DuckDB
    oracle.  Also exercises the partitionColumn parallel-read options
    passthrough against live data."""
    from sparkall_spark import Engine
    from sparkall_spark.fixtures import NS, PREFIX_BLOCK, _m
    from sparkall_spark.mappings import EntityMapping, MappingIndex

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.format("jdbc").options(
        url=url, dbtable="NATION", driver=driver
    ).mode("overwrite").save()

    nation_jdbc = EntityMapping(
        name="Nation", source="//NATION", source_type="jdbc",
        id_attr="n_nationkey",
        predicates={NS + "name": "n_name", NS + "region": "n_regionkey"},
        class_iri=NS + "Nation",
        options={"url": url, "driver": driver},
    )
    customer_parquet = _m(
        "Customer", "customer", sf_dir, "c_custkey",
        {"name": "c_name", "nation": "c_nationkey"},
    )
    engine = Engine(spark, MappingIndex([nation_jdbc, customer_parquet]))
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?cname ?nname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }
        """
    )
    oracle = """
    SELECT c_name AS cname, n_name AS nname
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """
    from tests.conftest import assert_matches_oracle

    assert_matches_oracle(engine.sparql(q), duck, oracle)

    # parallel range-partitioned read: options pass through to Spark's
    # JDBC relation and the scan splits into numPartitions tasks
    nation_par = EntityMapping(
        name="NationPar", source="//NATION", source_type="jdbc",
        id_attr="n_nationkey", predicates={NS + "name": "n_name"},
        class_iri=NS + "NationPar",
        options={
            "url": url, "driver": driver,
            "partitionColumn": "n_nationkey", "lowerBound": "0",
            "upperBound": "25", "numPartitions": "4",
        },
    )
    from sparkall_spark.sources import load_source

    pdf = load_source(spark, nation_par)
    assert pdf.rdd.getNumPartitions() == 4
    assert pdf.count() == 25


def test_json_corrupt_records_are_data(spark, tmp_path):
    """A malformed line in a JSONL source must not kill the scan:
    default PERMISSIVE mode surfaces it in _corrupt_record, and
    mode=DROPMALFORMED (a mapping option passthrough) silently drops it
    — corpus-scale robustness is a reader option, not custom code."""
    from sparkall_spark.mappings import EntityMapping
    from sparkall_spark.sources import load_source

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good row"}\n'
        "{this is not json at all\n"
        '{"doc_id": 2, "text": "another good row"}\n'
    )

    def mapping(**options):
        return EntityMapping(
            name="JDoc", source=str(p), source_type="json",
            id_attr="doc_id", predicates={}, options=options,
        )

    df = load_source(spark, mapping())
    rows = df.collect()
    good = [r for r in rows if r["doc_id"] is not None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["doc_id"] for r in good} == {1, 2}
    assert len(bad) == 1 and "not json" in bad[0]["_corrupt_record"]

    dropped = load_source(spark, mapping(mode="DROPMALFORMED"))
    assert {r["doc_id"] for r in dropped.collect()} == {1, 2}
    assert "_corrupt_record" not in dropped.columns


# ---------------------------------------------------------------------------
# Session schema memo (sources/files.py): a repeated read skips the
# schema-inference job; a rewritten or extended path is seen as before
# ---------------------------------------------------------------------------

NAMES_Q = f"PREFIX sa: <{NS}>\nSELECT ?name WHERE {{ ?n a sa:Nation ; sa:name ?name . }}"


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched on this thread)."""
    import uuid

    sc = spark.sparkContext
    group = f"memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def nation(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/nation.parquet")


@pytest.mark.parametrize("backend", ["dataframe", "sql"])
def test_repeated_query_launches_only_its_action_jobs(spark, nation, tmp_path, backend):
    path = str(tmp_path / "nation")
    nation.write.parquet(path)
    engine = Engine(spark, MappingIndex([_nation_mapping(path, "parquet")]))
    first, infer_jobs = _jobs(spark, lambda: engine.sparql(NAMES_Q, backend=backend))
    assert infer_jobs >= 1  # the first read infers the schema
    rows, action_jobs = _jobs(spark, first.collect)
    again, construct_jobs = _jobs(spark, lambda: engine.sparql(NAMES_Q, backend=backend))
    assert construct_jobs == 0
    rows_again, again_jobs = _jobs(spark, again.collect)
    assert again_jobs == action_jobs
    assert sorted(rows_again) == sorted(rows) and len(rows) == 25


def test_memo_is_per_session_and_skips_globs(spark, nation, tmp_path):
    path = str(tmp_path / "nation")
    nation.write.parquet(path)
    m = _nation_mapping(path, "parquet")
    load_source(spark, m)
    assert _jobs(spark, lambda: load_source(spark, m))[1] == 0
    other = spark.newSession()
    assert _jobs(other, lambda: load_source(other, m))[1] >= 1
    glob = _nation_mapping(path + "/*.parquet", "parquet")
    for _ in range(2):  # a glob has no file status: never memoized
        assert _jobs(spark, lambda: load_source(spark, glob))[1] >= 1


def test_overwritten_source_is_reinferred(spark, nation, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.errors import AnalysisException

    path = str(tmp_path / "nation")
    nation.write.parquet(path)
    m = _nation_mapping(path, "parquet")
    m.predicates[NS + "extra"] = "n_extra"
    engine = Engine(spark, MappingIndex([m]))
    extra_q = f"PREFIX sa: <{NS}>\nSELECT ?x WHERE {{ ?n a sa:Nation ; sa:extra ?x . }}"
    assert len(engine.sparql(NAMES_Q).collect()) == 25
    with pytest.raises(AnalysisException, match="n_extra"):
        engine.sparql(extra_q).collect()
    # same path, new column: the next query sees it
    nation.withColumn("n_extra", F.upper("n_name")).write.mode("overwrite").parquet(path)
    got = sorted(r.x for r in engine.sparql(extra_q).collect())
    assert got == sorted(r.n_name.upper() for r in nation.collect())
    # same path, mapped column gone: the same error as for a fresh read
    nation.drop("n_name").write.mode("overwrite").parquet(path)
    with pytest.raises(AnalysisException, match="n_name"):
        engine.sparql(NAMES_Q).collect()


def test_file_appended_to_directory_source_is_read(spark, nation, tmp_path):
    path = str(tmp_path / "nation")
    nation.write.parquet(path)
    engine = Engine(spark, MappingIndex([_nation_mapping(path, "parquet")]))
    assert engine.sparql(NAMES_Q).count() == 25
    nation.write.mode("append").parquet(path)
    assert engine.sparql(NAMES_Q).count() == 50


def test_csv_infer_schema_option_keys_the_memo(spark, staged):
    inferred = _nation_mapping(staged["csv"], "csv")
    as_text = _nation_mapping(staged["csv"], "csv")
    as_text.options = {"inferSchema": "false"}
    for m, kind in [(inferred, "int"), (as_text, "string"), (inferred, "int")]:
        field = load_source(spark, m).schema["n_nationkey"]
        assert field.dataType.simpleString() == kind
