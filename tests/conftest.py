import atexit
import os
import shutil
import tempfile

import pytest

N_ENT = 200
N_PAIRS = 800

# build_spark keeps a class archive under tempfile.gettempdir(). This run,
# and every subprocess it starts, keeps its own, so a run does not depend on
# what earlier runs left there. Removed after the JVMs' exit hooks (atexit
# runs hooks registered later first).
_TMPDIR = tempfile.mkdtemp(prefix="erp-tests-")
os.environ["TMPDIR"] = _TMPDIR
tempfile.tempdir = None
atexit.register(shutil.rmtree, _TMPDIR, True)


@pytest.fixture(scope="session")
def spark():
    from entity_resolution_pipeline_spark.session import build_spark

    s = build_spark(app_name="erp-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def tmp_warehouse():
    d = tempfile.mkdtemp(prefix="erp_wh_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    """One ``ERPipeline.run`` on 200 synthetic entities, per test module."""
    from entity_resolution_pipeline_spark.plans.pipeline import ERConfig, ERPipeline
    from entity_resolution_pipeline_spark.sources.webpages import (
        labeled_pairs_pdf,
        web_pages_df,
    )

    wh = str(tmp_path_factory.mktemp("erp_wh"))
    wp = web_pages_df(spark, N_ENT)
    lp = spark.createDataFrame(labeled_pairs_pdf(N_ENT, N_PAIRS))
    pipe = ERPipeline(spark, wh, ERConfig())
    result = pipe.run(wp, lp)
    return pipe, result, wp, lp, wh
