"""Seeded request lists for the benchmark's workloads.

A request is one call into the program's public surface:

- ``sparql``: ``Engine(spark, tpch_mappings(sf)).sparql(text)`` with the
  default backend, checked against a DuckDB SQL text carrying the same
  literals;
- ``entry``: ``__spark_entry__.queries()[name](spark, sf)``, checked
  against ``__spark_entry__.oracle_sql()[name]``.

Everything here is pure Python over the benchmark's own parquet files,
so the same seed gives a byte-identical request list.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random
import re
from dataclasses import asdict, dataclass

import pyarrow.parquet as pq

OPS_BUILD = (
    "e29_index_telemetry",
    "e09_sim_topk_ivf",
    "e28_data_selection",
    "e14_temporal_join",
    "e01_dedup_exact",
)

# One sentence per workload; BENCHMARK.json carries the same text.
WHY = {
    "sparql_mix": "every oracle-backed SPARQL shape with seeded BSBM-style"
    " literals at sf0.01, so compile-side layers (mappings, sources, parse,"
    " plan, Py4J, Catalyst, codegen) dominate and operators are bypassed",
    "ops_build": "driver-bound operator entries e29 (index write/append/"
    "compact), e09, e28, e14 and e01 at sf0.01, where plan construction and"
    " job scheduling dominate and the SPARQL compiler is bypassed",
}
WORKLOADS = tuple(WHY)

_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@dataclass(frozen=True)
class Request:
    kind: str  # "sparql" or "entry"
    name: str
    sparql: str | None = None
    oracle: str | None = None


@dataclass
class _Slot:
    kind: str  # "num", "str", "date" or "values"
    column: str
    literal: str  # original literal text, e.g. "45", "BUILDING"
    sparql_old: str  # exact substring replaced in the SPARQL text
    sql_old: str  # exact substring replaced in the SQL text


# FILTER (?v OP number) and its SQL twin "column OP number"
_SPARQL_NUM = re.compile(
    r"\?\w+\s*(<=|>=|!=|=|<|>)\s*(-?\d+(?:\.\d+)?)\s*\)"
)
_SPARQL_STR = re.compile(r'"([^"\n]*)"')
_SPARQL_VALUES = re.compile(r"VALUES\s+\?\w+\s*\{([^}]*)\}")
_DATE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_SQL_OP = {"!=": "<>"}


def _sql_matches(sql: str, op: str, lit: str) -> list[re.Match]:
    ops = {op, _SQL_OP.get(op, op)}
    alt = "|".join(re.escape(o) for o in sorted(ops, key=len, reverse=True))
    return list(re.finditer(rf"\b(\w+)\s*({alt})\s*{re.escape(lit)}(?![\w.])",
                            sql))


def find_slots(sparql: str, sql: str) -> list[_Slot]:
    """Literals that occur once in the SPARQL text and once, compared
    with a named column, in its paired SQL text.  Literals inside
    regex()/rlike() patterns are left alone."""
    slots: list[_Slot] = []
    for m in _SPARQL_NUM.finditer(sparql):
        op, lit = m.group(1), m.group(2)
        hits = _sql_matches(sql, op, lit)
        if len(hits) == 1 and sparql.count(m.group(0)) == 1:
            slots.append(_Slot("num", hits[0].group(1), lit, m.group(0),
                               hits[0].group(0)))
    for m in _SPARQL_VALUES.finditer(sparql):
        vals = _SPARQL_STR.findall(m.group(1))
        in_list = ", ".join(f"'{v}'" for v in vals)
        hit = re.search(rf"\b(\w+)\s+IN\s*\({re.escape(in_list)}\)", sql)
        if vals and hit:
            slots.append(_Slot("values", hit.group(1), json.dumps(vals),
                               m.group(0), hit.group(0)))
    in_values = " ".join(m.group(0) for m in _SPARQL_VALUES.finditer(sparql))
    for m in _SPARQL_STR.finditer(sparql):
        lit = m.group(1)
        before = sparql[: m.start()].rstrip()
        if (f'"{lit}"' in in_values or before.endswith(",")
                or before.endswith("(") or sparql.count(f'"{lit}"') != 1):
            continue
        hits = [h for op in ("=", "!=", ">=", "<=", "<", ">")
                for h in _sql_matches(sql, op, f"'{lit}'")]
        hits = list({h.start(): h for h in hits}.values())
        if len(hits) == 1 and sql.count(f"'{lit}'") == 1:
            kind = "date" if _DATE.match(lit) else "str"
            slots.append(_Slot(kind, hits[0].group(1), lit, m.group(0),
                               hits[0].group(0)))
    return slots


class Domains:
    """Sorted distinct values per column of the benchmark's tables."""

    def __init__(self, data_dir: str):
        self._dir = data_dir
        self._table_of: dict[str, str] = {}
        for t in _TABLES:
            for name in pq.read_schema(f"{data_dir}/{t}.parquet").names:
                self._table_of.setdefault(name, t)
        self._cache: dict[str, list] = {}

    def values(self, column: str) -> list:
        if column not in self._cache:
            t = self._table_of[column]
            col = pq.read_table(f"{self._dir}/{t}.parquet",
                                columns=[column]).column(0)
            self._cache[column] = sorted(
                v for v in col.unique().to_pylist() if v is not None)
        return self._cache[column]

    def has(self, column: str) -> bool:
        return column in self._table_of


def _draw(rng: random.Random, slot: _Slot, domains: Domains,
          day_shift: int) -> tuple[str, str]:
    """(sparql literal text, sql literal text) for one slot."""
    if slot.kind == "num":
        v = rng.choice(domains.values(slot.column))
        text = str(int(round(v))) if "." not in slot.literal else f"{v:.2f}"
        return text, text
    if slot.kind == "str":
        v = rng.choice(domains.values(slot.column))
        return f'"{v}"', f"'{v}'"
    if slot.kind == "date":
        d = dt.date.fromisoformat(slot.literal) + dt.timedelta(days=day_shift)
        return f'"{d.isoformat()}"', f"'{d.isoformat()}'"
    k = len(json.loads(slot.literal))
    vals = rng.sample(domains.values(slot.column), k)
    return (" ".join(f'"{v}"' for v in vals),
            ", ".join(f"'{v}'" for v in vals))


def _day_shift(rng: random.Random, slots: list[_Slot],
               domains: Domains) -> int:
    """One shift for all date literals of a shape, keeping the window
    inside the column's range."""
    dates = [s for s in slots if s.kind == "date"]
    if not dates:
        return 0
    vals = domains.values(dates[0].column)
    lo, hi = vals[0].date(), vals[-1].date()
    lits = [dt.date.fromisoformat(s.literal) for s in dates]
    return rng.randint((lo - min(lits)).days, (hi - max(lits)).days)


def _instantiate(rng: random.Random, name: str, sparql: str, sql: str,
                 slots: list[_Slot], domains: Domains) -> Request:
    shift = _day_shift(rng, slots, domains)
    for s in slots:
        sp_lit, sql_lit = _draw(rng, s, domains, shift)
        if s.kind == "values":
            sparql = sparql.replace(
                s.sparql_old, s.sparql_old.split("{")[0] + "{ " + sp_lit + " }")
            sql = sql.replace(s.sql_old, s.sql_old.split("(")[0] + f"({sql_lit})")
        elif s.kind == "num":
            sparql = sparql.replace(
                s.sparql_old, s.sparql_old.replace(s.literal, sp_lit))
            sql = sql.replace(s.sql_old, s.sql_old.replace(s.literal, sql_lit))
        else:
            sparql = sparql.replace(s.sparql_old, sp_lit)
            sql = sql.replace(s.sql_old, s.sql_old.replace(f"'{s.literal}'",
                                                           sql_lit))
    return Request("sparql", name, sparql, sql)


class Generator:
    """Request lists for one workload and seed.

    ``warmup()`` is the untimed first pass (original literals, registry
    order); ``next_pass()`` draws the next timed pass from the seed."""

    def __init__(self, workload: str, seed: int, data_dir: str,
                 sparql_queries: dict[str, tuple[str, str | None]],
                 prefix: str = ""):
        if workload not in WHY:
            raise ValueError(f"unknown workload {workload!r}")
        self.workload = workload
        self._rng = random.Random(f"{workload}:{seed}")
        self._shapes: list[tuple[str, str, str, list[_Slot]]] = []
        if workload == "sparql_mix":
            domains = Domains(data_dir)
            for name, (text, oracle) in sparql_queries.items():
                if oracle is None:
                    continue
                slots = [s for s in find_slots(text, oracle)
                         if domains.has(s.column)]
                self._shapes.append((name, prefix + text, oracle, slots))
            self._domains = domains

    def warmup(self) -> list[Request]:
        if self.workload == "sparql_mix":
            return [Request("sparql", n, t, o) for n, t, o, _ in self._shapes]
        return [Request("entry", n) for n in OPS_BUILD]

    def next_pass(self) -> list[Request]:
        if self.workload != "sparql_mix":
            return [Request("entry", n)
                    for n in self._rng.sample(OPS_BUILD, len(OPS_BUILD))]
        order = self._rng.sample(self._shapes, len(self._shapes))
        return [_instantiate(self._rng, n, t, o, slots, self._domains)
                for n, t, o, slots in order]

    def parameterized(self) -> dict[str, list[str]]:
        """Shape -> the SQL columns whose literals the seed draws."""
        return {n: [s.column for s in slots]
                for n, _t, _o, slots in self._shapes}


def request_list_bytes(passes: list[list[Request]]) -> bytes:
    return json.dumps([[asdict(r) for r in p] for p in passes],
                      sort_keys=True).encode()


def request_list_sha256(passes: list[list[Request]]) -> str:
    return hashlib.sha256(request_list_bytes(passes)).hexdigest()
