"""Output checks, run outside the timed region.

Every result is compared with a DuckDB oracle on row count, column
names, pandas dtypes and the order-insensitive value hash of
``tests.oracle_check``. Sink files are read back first, by readers other than
the writers: parquet and JSON lines with pyarrow, Avro container files
record by record through Avro's own reader. A canary feeds
a perturbed result through the same comparison, which must reject it.
Before timing, a plan-parity check asserts that the action that gets
timed keeps every Python, Window, Generate and aggregate operator of the
result's optimized plan.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.json as pa_json
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from proto_to_avro_ql_spark.fixtures import ADS_FLAT_SQL
from tests.oracle_check import duckdb_run, value_hash


_PANDAS_DTYPE = {
    T.LongType: "int64", T.IntegerType: "int32", T.ShortType: "int16", T.ByteType: "int8",
    T.DoubleType: "float64", T.FloatType: "float32", T.BooleanType: "bool",
}


def flatten(pdf: pd.DataFrame, schema: T.StructType) -> pd.DataFrame:
    """Expand the struct columns of ``schema`` (dicts or Rows in ``pdf``)
    into ``parent_child`` leaf columns, the naming of the engine's flat
    oracle views. Leaves get the dtype ``toPandas`` gives a flat column
    of their type, so empty results compare too; flat columns keep
    theirs."""
    cols: dict[str, object] = {}

    def put(name: str, dtype: T.DataType, values: list) -> None:
        if isinstance(dtype, T.StructType):
            values = [v.asDict() if hasattr(v, "asDict") else v for v in values]
            for f in dtype.fields:
                put(f"{name}_{f.name}", f.dataType,
                    [None if v is None else v[f.name] for v in values])
            return
        kind = _PANDAS_DTYPE.get(type(dtype), "object")
        if kind != "object" and any(v is None for v in values):
            kind = "float64" if kind != "bool" else "object"
        cols[name] = pd.Series(values, dtype=kind)

    for f in schema.fields:
        if isinstance(f.dataType, T.StructType):
            put(f.name, f.dataType, pdf[f.name].tolist() if f.name in pdf else [])
        else:
            cols[f.name] = pdf[f.name].reset_index(drop=True)
    return pd.DataFrame(cols)


def problems(got: pd.DataFrame, want: pd.DataFrame,
             got_hash: str | None = None, want_hash: str | None = None) -> list[str]:
    """Differences between a result and its oracle; empty when equal.
    Value hashes the caller already holds are not computed again."""
    out = []
    if len(got) != len(want):
        out.append(f"rows {len(got)} != oracle {len(want)}")
    if sorted(got.columns) != sorted(want.columns):
        out.append(f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}")
        return out
    for c in sorted(got.columns):
        if str(got[c].dtype) != str(want[c].dtype):
            out.append(f"dtype {c}: {got[c].dtype} != oracle {want[c].dtype}")
    if not out and (got_hash or value_hash(got)) != (want_hash or value_hash(want)):
        out.append("value hash differs from oracle")
    return out


def perturbed(pdf: pd.DataFrame) -> pd.DataFrame:
    """A copy of ``pdf`` with one value changed (or one row dropped)."""
    bad = pdf.copy()
    if len(bad) == 0 or len(bad.columns) == 0:
        return pd.concat([bad, bad.head(1)]) if len(bad) else bad.assign(canary=[])
    col = bad.columns[0]
    v = bad[col].iloc[0]
    if isinstance(v, str):
        bad.iloc[0, 0] = v + "~"
    elif isinstance(v, (int, float)) or hasattr(v, "dtype"):
        bad.iloc[0, 0] = v + 1
    else:
        bad = bad.iloc[1:]
    return bad


class Oracle:
    """DuckDB oracle results over the benchmark's tables and their value
    hashes, memoized per SQL."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self._memo: dict[str, tuple[pd.DataFrame, str]] = {}

    def result(self, sql: str) -> tuple[pd.DataFrame, str]:
        """The oracle frame of ``sql`` (over ``{ads_flat}``) and its value hash."""
        sql = sql.replace("{ads_flat}", ADS_FLAT_SQL)
        if sql not in self._memo:
            frame = duckdb_run(self.sf_dir, sql)
            self._memo[sql] = frame, value_hash(frame)
        return self._memo[sql]

    def entry(self, name: str) -> tuple[pd.DataFrame, str]:
        """The registered oracle of a ``queries()`` entry and its value hash."""
        from proto_to_avro_ql_spark.entry_queries import ORACLES

        return self.result(ORACLES[name])


def _avro_records(spark: SparkSession, path: str, schema: T.StructType) -> pd.DataFrame:
    """The records of an Avro container file, read by Avro's own reader.
    A Java list's text is its records' JSON renderings, comma-separated
    in brackets: one JSON array for the whole file."""
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader())
    try:
        text = jvm.org.apache.commons.collections4.IteratorUtils.toList(reader).toString()
    finally:
        reader.close()
    return pd.DataFrame(json.loads(text), columns=schema.fieldNames())


def read_sink(spark: SparkSession, sink: str, path: str, schema: T.StructType) -> pd.DataFrame:
    """Read a sink's output back as a flat pandas frame, with readers
    other than the ones that wrote it."""
    if sink == "avro":
        pdf = _avro_records(spark, path, schema)
    else:
        parts = sorted(glob.glob(os.path.join(path, "part-*")))
        if sink == "json":
            opts = pa_json.ParseOptions(explicit_schema=to_arrow_schema(schema))
            tables = [pa_json.read_json(p, parse_options=opts) for p in parts
                      if os.path.getsize(p)]
        else:
            tables = [pq.read_table(p) for p in parts]
        pdf = (pa.concat_tables(tables, promote_options="default").to_pandas()
               if tables else pd.DataFrame(columns=schema.fieldNames()))
    return flatten(pdf, schema)


def sink_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "part-*"))
    )


# --- plan parity -------------------------------------------------------------

_TREE_NAME = re.compile(r"^[\s:|+\-!]*([A-Za-z]\w*)")
_PYTHON = re.compile(r"Python|Pandas|InArrow")


PARITY_CLASSES = ("python", "window", "generate", "aggregate")


def operator_classes(names) -> Counter:
    """Count Python, Window, Generate, aggregate and exchange operators
    among plan node names (logical or physical). Reused exchanges are not
    counted, since they run nothing."""
    out: Counter = Counter()
    for n in names:
        if "Exchange" in n and not n.startswith("Reused"):
            out["exchange"] += 1
        if _PYTHON.search(n):
            out["python"] += 1
        if "Window" in n and n != "WindowGroupLimit":
            out["window"] += 1
        if n == "Generate":
            out["generate"] += 1
        if n.endswith("Aggregate") or n == "AggregateInPandas":
            out["aggregate"] += 1
    return out


def optimized_classes(df: DataFrame) -> Counter:
    """Operator classes of the result's optimized plan. Operators that
    differ only in expression ids count once, since the physical plan
    reuses the exchange of a repeated subtree; operators inside cached
    relations are left out, since whichever job first reads a cached
    relation computes it."""
    ops, cached_at = {}, None
    for line in df._jdf.queryExecution().optimizedPlan().treeString().splitlines():
        m = _TREE_NAME.match(line)
        if not m:
            continue
        depth = m.start(1)
        if cached_at is not None and depth > cached_at:
            continue
        cached_at = depth if m.group(1) == "InMemoryRelation" else None
        ops[re.sub(r"#\d+L?", "#", line[depth:])] = m.group(1)
    return operator_classes(ops.values())


class ExecutionLog:
    """Physical plans of the SQL executions an action started, read from
    Spark's SQL status store."""

    def __init__(self, spark: SparkSession):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def mark(self) -> int:
        self._bus.waitUntilEmpty()
        return self._store.executionsCount()

    def classes_since(self, mark: int) -> Counter:
        """Operator classes the executions since ``mark`` ran, outside
        cached relations."""
        self._bus.waitUntilEmpty()
        execs = self._store.executionsList(mark, self._store.executionsCount() - mark)
        names = []
        for i in range(execs.size()):
            graph = self._store.planGraph(execs.apply(i).executionId())
            nodes = graph.allNodes()
            name = {nodes.apply(j).id(): nodes.apply(j).name() for j in range(nodes.size())}
            edges = graph.edges()
            children: dict[int, list[int]] = {}
            parents = set()
            for j in range(edges.size()):
                e = edges.apply(j)
                children.setdefault(e.toId(), []).append(e.fromId())
                parents.add(e.fromId())
            todo = [n for n in name if n not in parents]
            while todo:
                n = todo.pop()
                names.append(name[n])
                if name[n] != "InMemoryTableScan":
                    todo += children.get(n, [])
        return operator_classes(names)


def parity_gaps(result: Counter, action: Counter) -> list[str]:
    """Operator classes the timed action dropped from the result's plan."""
    return [
        f"{k}: result plan has {result[k]}, timed action ran {action.get(k, 0)}"
        for k in PARITY_CLASSES if action.get(k, 0) < result.get(k, 0)
    ]
