import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[*]")
        .appName("readability-spark-tests")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def sf_dir(scale: str = "0.001") -> str:
    return f"/root/testdata/sf{scale}"


# modules whose tests skip where the reference checkout or the Iceberg jar
# is absent; a green run that skipped them checked less than it seems
_REFERENCE_GATES = {
    "test_fixtures_corpus.py": "fixture corpus",
    "test_sample_pages.py": "SamplePages",
    "test_tokenfinder_parity.py": "token-finder parity",
    "test_spark_pipeline.py": "job-path Spark",
    "test_iceberg.py": "Iceberg",
}


def pytest_terminal_summary(terminalreporter):
    counts = dict.fromkeys(_REFERENCE_GATES.values(), 0)
    for report in terminalreporter.stats.get("skipped", []):
        module = os.path.basename(report.nodeid.split("::")[0])
        if module in _REFERENCE_GATES:
            counts[_REFERENCE_GATES[module]] += 1
    if any(counts.values()):
        terminalreporter.write_line(
            "reference-backed gates skipped: "
            + ", ".join(f"{label} {n}" for label, n in counts.items())
        )
