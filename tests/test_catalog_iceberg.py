"""Iceberg-branch coverage for StageCatalog.

The append contract (the pipeline's ``_ledger`` is appended to, never
replaced) and the by-name read of a resumed stage run everywhere against
stub writer and reader objects. The real branch is gated on the runtime jar:
without an iceberg-spark-runtime jar it SKIPS (the parquet path, with no
catalog named, is covered by test_pipeline). On any machine
with the jar (ICEBERG_JAR env var, or dropped into $SPARK_HOME/jars), it
runs createOrReplace / read / append / tableExists against a hadoop-type
catalog in a tmpdir, in its own subprocess (catalog + jar configs must be
set at JVM launch)."""

import glob
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _find_iceberg_jar() -> str | None:
    cand = os.environ.get("ICEBERG_JAR")
    if cand and os.path.exists(cand):
        return cand
    import pyspark

    jars_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    hits = glob.glob(os.path.join(jars_dir, "iceberg-spark-runtime*.jar"))
    return hits[0] if hits else None


_DRIVER = r"""
import json, sys, tempfile
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from fast_er_spark.catalog import StageCatalog

jar, wh = sys.argv[1], tempfile.mkdtemp(prefix="iceberg_wh_")
spark = (SparkSession.builder.master("local[2]")
         .appName("iceberg-test")
         .config("spark.jars", jar)
         .config("spark.sql.catalog.it", "org.apache.iceberg.spark.SparkCatalog")
         .config("spark.sql.catalog.it.type", "hadoop")
         .config("spark.sql.catalog.it.warehouse", wh)
         .config("spark.ui.enabled", "false")
         .getOrCreate())
cat = StageCatalog(spark, wh, iceberg_catalog="it", namespace="t")
assert cat.iceberg == "it", "catalog fell back to parquet despite the jar"
df = spark.range(5).withColumnRenamed("id", "x")
assert not cat.exists("s1")
cat.write(df, "s1")
assert cat.exists("s1")
assert cat.read("s1").count() == 5
assert cat.read("s1", "x long").count() == 5  # by name, schema from the catalog
cat.append(df, "s1")
assert cat.read("s1").count() == 10
cat.write(df, "s1")  # atomic replace
assert cat.read("s1").count() == 5
print("ICEBERG_OK")
spark.stop()
"""


@pytest.mark.skipif(
    _find_iceberg_jar() is None,
    reason="no iceberg-spark-runtime jar in this environment (set ICEBERG_JAR)",
)
def test_stage_catalog_iceberg_branch():
    jar = _find_iceberg_jar()
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER.format(repo=REPO), jar],
        capture_output=True, text=True, timeout=600,
    )
    assert "ICEBERG_OK" in out.stdout, out.stderr[-2000:]


class _StubWriter:
    def __init__(self, calls: list, fail_append: bool):
        self.calls, self.fail_append = calls, fail_append

    def append(self):
        self.calls.append("append")
        if self.fail_append:
            raise RuntimeError("commit conflict")

    def create(self):
        self.calls.append("create")

    def createOrReplace(self):  # noqa: N802 — Spark's DataFrameWriterV2 name
        self.calls.append("createOrReplace")


class _StubFrame:
    def __init__(self, calls: list, fail_append: bool = False):
        self.calls, self.fail_append = calls, fail_append

    def writeTo(self, table):  # noqa: N802
        return _StubWriter(self.calls, self.fail_append)


class _StubSpark:
    def __init__(self, existing: set):
        self.existing = existing
        self.catalog = self

    def sql(self, _query):
        return None

    def tableExists(self, table):  # noqa: N802
        return table in self.existing


def test_iceberg_append_never_replaces_existing_table():
    """A failed append to an existing table must raise and leave the table
    alone: never fall back to createOrReplace (which would wipe every
    earlier _ledger row, the pipeline's only record of finished stages) nor
    to create. A missing table is created; an existing one is appended
    to."""
    from fast_er_spark.catalog import StageCatalog

    cat = StageCatalog(_StubSpark({"it.t._ledger"}), "/unused", iceberg_catalog="it", namespace="t")
    assert cat.iceberg == "it"

    calls: list = []
    with pytest.raises(RuntimeError, match="commit conflict"):
        cat.append(_StubFrame(calls, fail_append=True), "_ledger")
    assert calls == ["append"]

    calls = []
    cat.append(_StubFrame(calls), "_ledger")
    assert calls == ["append"]

    calls = []
    StageCatalog(_StubSpark(set()), "/unused", iceberg_catalog="it", namespace="t").append(
        _StubFrame(calls), "_ledger"
    )
    assert calls == ["create"]


class _StubReader:
    def __init__(self, calls: list):
        self.calls = calls

    def table(self, name):
        self.calls.append(("table", name))
        return name

    def schema(self, schema):
        self.calls.append(("schema", schema))
        return self


def test_iceberg_read_with_schema_reads_table_by_name():
    """A resumed stage passes the schema its ledger row recorded to
    read(); an Iceberg table is still read by name, with the schema its
    catalog holds, and the given one is not applied."""
    from fast_er_spark.catalog import StageCatalog

    spark, calls = _StubSpark({"it.t.input_x"}), []
    spark.read = _StubReader(calls)
    cat = StageCatalog(spark, "/unused", iceberg_catalog="it", namespace="t")
    assert cat.read("input_x", "id long, text string") == "it.t.input_x"
    assert calls == [("table", "it.t.input_x")]


class _FailingSpark(_StubSpark):
    def sql(self, _query):
        raise PermissionError("access denied to catalog 'lake'")


def test_unusable_iceberg_catalog_raises_instead_of_parquet_fallback():
    """A named catalog whose namespace cannot be created must raise, naming
    the catalog and chaining the cause: silently writing parquet under the
    workdir would put every stage table somewhere else."""
    from fast_er_spark.catalog import StageCatalog

    with pytest.raises(RuntimeError, match="'lake'") as exc:
        StageCatalog(_FailingSpark(set()), "/unused", iceberg_catalog="lake", namespace="t")
    assert isinstance(exc.value.__cause__, PermissionError)
