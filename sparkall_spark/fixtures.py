"""Mappings binding the driver's TPC-H-ish parquet fixtures to an ontology.

This is the analog of the reference's evaluation setup (5 BSBM entities
mapped via mappings.ttl + config); here the entities are the tables of
TESTDATA.md and every predicate lives in the ``sa:`` namespace.

FK predicates point at the *target entity's subject*, e.g.
``?l sa:order ?o`` joins ``lineitem.l_orderkey = orders.o_orderkey``.

``region`` and ``nation`` have fixed cardinality (5 / 25 rows at every
scale factor) so they carry an explicit broadcast hint; every other
table scales with SF and is left to Catalyst's size-based broadcast +
AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkall_spark.mappings import EntityMapping, MappingIndex
from sparkall_spark.sources.files import read_files

NS = "http://sparkall.io/ns/"
PREFIX_BLOCK = f"PREFIX sa: <{NS}>\n"


def _normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp to TimestampType regardless of how
    the generator wrote it: TIMESTAMP(NANOS) read as long (truncate to
    micros — DuckDB's TIMESTAMP does the same truncation, keeping
    oracles aligned), or TIMESTAMP_NTZ (cast; session tz is UTC so the
    wall-clock values match DuckDB's naive timestamps)."""
    t = dict(df.dtypes).get(col)
    if t == "bigint":
        return df.withColumn(col, F.timestamp_micros((F.col(col) / 1000).cast("long")))
    if t == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """The events table, whose timestamp encoding depends on the
    generator — read through the shared schema memo, then normalized."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _normalize_event_ts(read_files(spark, "parquet", path, {}))


def _m(name: str, table: str, sf_dir: str, id_attr: str,
       preds: dict[str, str], broadcast: bool = False) -> EntityMapping:
    return EntityMapping(
        name=name,
        source=f"{sf_dir}/{table}.parquet",
        source_type="parquet",
        id_attr=id_attr,
        predicates={NS + k: v for k, v in preds.items()},
        class_iri=NS + name,
        broadcast=broadcast,
    )


from sparkall_spark.sources import register_reader  # noqa: E402

# the events table as a custom source type: the reader-registry extension point
register_reader("events_parquet", lambda spark, m: _read_events(spark, m.source))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table through the same readers (and schema memo)
    as the mappings; the events timestamp is normalized to TimestampType
    — see _normalize_event_ts."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return _read_events(spark, path)
    return read_files(spark, "parquet", path, {})


def fno_mappings_ttl(sf_dir: str) -> str:
    """RML mapping file with FnO/FunctionMap transformation blocks, in
    the reference's dialect (mappings_trans.ttl:133-151): the customer
    balance passes through grel:scale(+10) and the nation FK through
    grel:skip(3).  Exercises the mapping-file transform route end to
    end (the inline ``TRANSFORM(...)`` route is q11/q12)."""
    return f"""
@prefix rr: <http://www.w3.org/ns/r2rml#>
@prefix rml: <http://semweb.mmlab.be/ns/rml#>
@prefix nosql: <http://purl.org/db/nosql#>
@prefix fnml: <http://semweb.mmlab.be/ns/fnml#>
@prefix fno: <http://w3id.org/function/ontology#>
@prefix grel: <http://users.ugent.be/~bjdmeest/function/grel.ttl#>
@prefix sa: <{NS}>

<#CustomerMapping>
\trml:logicalSource [
\t\trml:source "{sf_dir}/customer.parquet";
\t\tnosql:store nosql:parquet
\t];
\trr:subjectMap [
\t\trr:template "http://sparkall.io/customer/{{c_custkey}}";
\t\trr:class sa:Customer
\t];
\trr:predicateObjectMap [
\t\trr:predicate sa:name;
\t\trr:objectMap [rml:reference "c_name"]
\t];
\trr:predicateObjectMap [
\t\trr:predicate sa:acctbal;
\t\trr:objectMap [rml:reference <#BalFunctionMap>]
\t];
\trr:predicateObjectMap [
\t\trr:predicate sa:nation;
\t\trr:objectMap [rml:reference <#NationSkipFunctionMap>]
\t].

<#BalFunctionMap>
 fnml:functionValue [
   rml:logicalSource "{sf_dir}/customer.parquet" ;
   rr:predicateObjectMap [
     rr:predicate fno:executes ;
     rr:objectMap [rr:constant grel:scale] ] ;
   rr:predicateObjectMap [
     rr:predicate grel:valueParam1 ;
     rr:objectMap [rr:reference "c_acctbal"]
   ] ;
   rr:predicateObjectMap [
     rr:predicate grel:valueParam2 ;
     rr:objectMap [rr:reference "+10"]
   ] ;
 ] .

<#NationSkipFunctionMap>
 fnml:functionValue [
   rml:logicalSource "{sf_dir}/customer.parquet" ;
   rr:predicateObjectMap [
     rr:predicate fno:executes ;
     rr:objectMap [rr:constant grel:skip] ] ;
   rr:predicateObjectMap [
     rr:predicate grel:valueParam1 ;
     rr:objectMap [rr:reference "c_nationkey"]
   ] ;
   rr:predicateObjectMap [
     rr:predicate grel:valueParam2 ;
     rr:objectMap [rr:reference "3"]
   ] ;
 ] .

<#NationMapping>
\trml:logicalSource [
\t\trml:source "{sf_dir}/nation.parquet";
\t\tnosql:store nosql:parquet
\t];
\trr:subjectMap [
\t\trr:template "http://sparkall.io/nation/{{n_nationkey}}";
\t\trr:class sa:Nation
\t];
\trr:predicateObjectMap [
\t\trr:predicate sa:name;
\t\trr:objectMap [rml:reference "n_name"]
\t].
"""


def tpch_mappings(sf_dir: str) -> MappingIndex:
    return MappingIndex(
        [
            _m("Region", "region", sf_dir, "r_regionkey",
               {"name": "r_name"}, broadcast=True),
            _m("Nation", "nation", sf_dir, "n_nationkey",
               {"name": "n_name", "region": "n_regionkey"}, broadcast=True),
            _m("Customer", "customer", sf_dir, "c_custkey",
               {"name": "c_name", "nation": "c_nationkey",
                "acctbal": "c_acctbal", "mktsegment": "c_mktsegment"}),
            _m("Supplier", "supplier", sf_dir, "s_suppkey",
               {"name": "s_name", "nation": "s_nationkey", "acctbal": "s_acctbal"}),
            _m("Part", "part", sf_dir, "p_partkey",
               {"name": "p_name", "brand": "p_brand", "type": "p_type",
                "size": "p_size", "retailprice": "p_retailprice"}),
            _m("Orders", "orders", sf_dir, "o_orderkey",
               {"customer": "o_custkey", "orderstatus": "o_orderstatus",
                "totalprice": "o_totalprice", "orderdate": "o_orderdate",
                "orderpriority": "o_orderpriority"}),
            _m("Lineitem", "lineitem", sf_dir, "l_orderkey",
               {"order": "l_orderkey", "part": "l_partkey",
                "supplier": "l_suppkey", "linenumber": "l_linenumber",
                "quantity": "l_quantity", "extendedprice": "l_extendedprice",
                "discount": "l_discount", "tax": "l_tax",
                "returnflag": "l_returnflag", "linestatus": "l_linestatus",
                "shipdate": "l_shipdate"}),
            EntityMapping(
                name="Event",
                source=f"{sf_dir}/events.parquet",
                source_type="events_parquet",
                id_attr="event_id",
                predicates={NS + k: v for k, v in
                            {"ts": "ts", "user": "user_id",
                             "event_type": "event_type", "value": "value",
                             "props": "props"}.items()},
                class_iri=NS + "Event",
            ),
            _m("Document", "documents", sf_dir, "doc_id",
               {"text": "text", "lang": "lang", "source": "source",
                "n_chars": "n_chars"}),
            _m("Embedding", "embeddings", sf_dir, "vec_id",
               {"embedding": "embedding", "label": "label"}),
        ]
    )
