"""The north rule's launch contract, actually executed: `spark-submit
--py-files erp.zip run_pipeline.py` as a real subprocess, at N=2 and 4N=8
local cores, from a cwd where the package is NOT filesystem-importable —
so the test proves the zip shipping, the absolute-import layout, and the
entrypoint's one-line JSON contract, and pins parallelism-invariance of
the pipeline's results across the two levels (wall-clock scaling numbers
live in bench.py's pinned protocol; a shared-JVM pytest box can't measure
those honestly here).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit_bin() -> str:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    found = shutil.which("spark-submit")
    if found:
        return found
    pytest.skip("no spark-submit on PATH")


def test_spark_submit_pyfiles_two_parallelism_levels(tmp_path):
    pkg = os.path.join(REPO, "entity_resolution_pipeline_spark")
    zip_path = str(tmp_path / "erp.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    script = str(tmp_path / "run_pipeline.py")
    shutil.copy(os.path.join(pkg, "run_pipeline.py"), script)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    results, walls = {}, {}
    for cores in (2, 8):
        wh = str(tmp_path / f"wh{cores}")
        t0 = time.time()
        proc = subprocess.run(
            [
                _spark_submit_bin(),
                "--master", f"local[{cores}]",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.ui.enabled=false",
                "--py-files", zip_path,
                script,
                "--warehouse", wh,
                "--entities", "200",
                "--n-label-pairs", "800",
            ],
            cwd=str(tmp_path),
            env=env,
            capture_output=True,
            text=True,
            timeout=420,
        )
        walls[cores] = time.time() - t0
        assert proc.returncode == 0, proc.stderr[-4000:]
        json_lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        assert json_lines, proc.stdout[-2000:]
        results[cores] = json.loads(json_lines[-1])

    r2, r8 = results[2], results[8]
    # the contract line carries counts + evaluation
    for r in (r2, r8):
        assert r["n_pages"] > 0 and r["candidate_pairs"] > 0
        assert r["evaluation"]["blocked_pairs"]["f1"] >= 0.99, r["evaluation"]
    # parallelism-invariance: same input -> identical results at 2 and 8 cores
    assert r2["n_pages"] == r8["n_pages"]
    assert r2["candidate_pairs"] == r8["candidate_pairs"]
    assert r2["n_clusters"] == r8["n_clusters"]
    assert r2["evaluation"]["blocked_pairs"] == r8["evaluation"]["blocked_pairs"]


def _vm_option(jvm, name: str) -> str:
    mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return mx.getVMOption(name).getValue()


def test_build_spark_driver_jvm_is_c1_only(spark):
    """``build_spark`` starts the driver JVM with ``-XX:TieredStopAtLevel=1``
    (C1 only); HotSpot's default is 4 (C1 then C2)."""
    assert _vm_option(spark.sparkContext._jvm, "TieredStopAtLevel") == "1"


def test_build_spark_lowercases_without_icu(spark):
    """``build_spark`` turns ICU case mapping off, so ``lower()`` takes the
    JVM's ``UTF8String.toLowerCase`` and no job waits on ICU4J's first use."""
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"


def test_build_spark_lowercases_in_en_us(spark):
    """``build_spark`` pins the JVM's default locale to ``en_US``, which
    ``lower()`` of a string with a non-ASCII character goes through."""
    import pyspark.sql.functions as F

    jvm = spark.sparkContext._jvm
    assert jvm.java.util.Locale.getDefault().toString() == "en_US"
    assert spark.range(1).select(F.lower(F.lit("IÉ"))).first()[0] == "ié"


_LOWER_IE = """
import json
import pyspark.sql.functions as F
from entity_resolution_pipeline_spark.session import build_spark

spark = build_spark(master="local[1]")
print(json.dumps(spark.range(1).select(F.lower(F.lit("IÉ"))).first()[0]))
spark.stop()
"""


def test_build_spark_lowercases_in_en_us_on_a_turkish_host():
    """A JVM whose environment asks for a Turkish default locale, where
    ``String.toLowerCase()`` maps ``I`` to dotless ``ı``, still lowercases
    ``IÉ`` to ``ié``: ``build_spark``'s locale options come after
    ``JAVA_TOOL_OPTIONS``. Needs its own JVM."""
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        "JAVA_TOOL_OPTIONS": "-Duser.language=tr -Duser.country=TR"}
    proc = subprocess.run(
        [sys.executable, "-c", _LOWER_IE],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert json.loads(proc.stdout.splitlines()[-1]) == "ié"


def test_build_spark_driver_code_cache_is_tiered_default(spark):
    """The C1-only driver JVM keeps the tiered code cache size, 240 MB:
    C1-only alone caps it at 48 MB, which a long session fills, and HotSpot
    then turns the JIT compiler off."""
    assert _vm_option(spark.sparkContext._jvm, "ReservedCodeCacheSize") == "251658240"


_CALLER_JVM_OPTS = """
import json
from entity_resolution_pipeline_spark.session import build_spark

spark = build_spark(master="local[1]", extra_conf={
    "spark.driver.extraJavaOptions": "-Derp.probe=1 -XX:TieredStopAtLevel=4"})
jvm = spark.sparkContext._jvm
mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
tier = mx.getVMOption("TieredStopAtLevel").getValue()
print(json.dumps([jvm.System.getProperty("erp.probe"), tier]))
spark.stop()
"""


def test_build_spark_caller_jvm_options_win():
    """A caller's ``spark.driver.extraJavaOptions`` stays in effect and comes
    after ``build_spark``'s JIT default, so a long local run can take C2 back
    with ``-XX:TieredStopAtLevel=4``. Needs its own JVM: the flag is fixed
    when the driver starts."""
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)}
    proc = subprocess.run(
        [sys.executable, "-c", _CALLER_JVM_OPTS],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert json.loads(proc.stdout.splitlines()[-1]) == ["1", "4"]


def test_env_knob_inventory():
    """The package reads exactly these environment variables: three
    deployment settings (cores, master URL, driver heap). A new env read
    is a new knob; it has to be added here on purpose, with the
    measurement that justifies it."""
    import glob
    import re

    any_read = re.compile(r"\b(?:environ|getenv)\b")
    literal_read = re.compile(
        r"\b(?:environ(?:\.get)?|getenv)\s*[(\[]\s*[\"']([A-Za-z0-9_]+)[\"']"
    )
    names: set[str] = set()
    pkg = os.path.join(REPO, "entity_resolution_pipeline_spark")
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            src = f.read()
        found = literal_read.findall(src)
        # every environ/getenv mention is a read with a literal name
        assert len(found) == len(any_read.findall(src)), path
        names.update(found)
    assert names == {
        "SPARK_GRAFT_CPUS",
        "SPARK_MASTER",
        "SPARK_DRIVER_MEMORY",
    }


def test_run_writes_only_stage_tables(pipeline_run):
    """``ERPipeline.run`` writes exactly the tables of ``STAGE_TABLES``
    (``_run_stage`` is its only table write), each committed, plus the
    checkpoint manifest."""
    from entity_resolution_pipeline_spark.plans.pipeline import STAGE_TABLES

    pipe, *_, wh = pipeline_run
    tables = {t for ts in STAGE_TABLES.values() for t in ts}
    assert set(os.listdir(wh)) == tables | {"checkpoint_manifest"}
    assert all(pipe.catalog.exists(t) for t in tables)


def test_erconfig_field_inventory():
    """``ERConfig`` has exactly these fields. A new field is a new option;
    it has to be added here on purpose, with the measurement that
    justifies it, and into the ``resume_key`` of the stage that reads it
    (``ERPipeline._run_stage``), or a rerun with it changed serves the old
    tables."""
    from dataclasses import fields

    from entity_resolution_pipeline_spark.plans.pipeline import ERConfig

    assert [f.name for f in fields(ERConfig)] == [
        "decision_threshold",
        "min_edge_weight",
        "train_frac",
        "seed",
        "lsh_num_perm",
        "lsh_bands",
        "max_block_size",
        "rfe_min_features",
    ]
