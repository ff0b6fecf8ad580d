import os
import sys
import threading
from contextlib import contextmanager
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

# Reference implementation (read-only) — imported ONLY as a test oracle for
# semantic parity checks; never imported by delm_spark itself.
REFERENCE_SRC = Path("/root/reference/src")

TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))


def _load_ref_module(name: str, path: Path):
    """Load a reference module by file path, bypassing delm/__init__.py
    (which imports unavailable heavy deps like tiktoken/instructor)."""
    import importlib.util
    import types

    # Stub parent packages so intra-package imports resolve.
    for pkg in ("delm", "delm.schemas", "delm.utils", "delm.strategies"):
        if pkg not in sys.modules:
            mod = types.ModuleType(pkg)
            mod.__path__ = [str(REFERENCE_SRC / pkg.replace(".", "/"))]
            sys.modules[pkg] = mod
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def ref_delm():
    """Import the reference `delm` pure modules as the semantic oracle."""
    if not REFERENCE_SRC.exists():
        pytest.skip("reference repo not available")
    base = REFERENCE_SRC / "delm"
    _load_ref_module("delm.constants", base / "constants.py")
    _load_ref_module("delm.models", base / "models.py")
    _load_ref_module("delm.exceptions", base / "exceptions.py")
    ref_schemas = _load_ref_module("delm.schemas.schemas", base / "schemas/schemas.py")
    # schema_manager does `from delm.schemas import SchemaRegistry, BaseSchema`;
    # surface those names on the stub package.
    pkg = sys.modules["delm.schemas"]
    for attr in ("SchemaRegistry", "BaseSchema", "SimpleSchema", "NestedSchema",
                 "MultipleSchema"):
        setattr(pkg, attr, getattr(ref_schemas, attr))
    sys.modules["delm.models"].ExtractionVariable  # sanity
    ref_schemas.ExtractionVariable = sys.modules["delm.models"].ExtractionVariable
    # post_processing imports SchemaManager only for the load-from-path case,
    # which these tests never use; stub it to avoid config.py's heavy imports.
    import types as _types

    sm = _types.ModuleType("delm.schemas.schema_manager")
    sm.SchemaManager = type("SchemaManager", (), {})
    sys.modules["delm.schemas.schema_manager"] = sm
    ref_post = _load_ref_module(
        "delm.utils.post_processing", base / "utils/post_processing.py"
    )
    ref_split = _load_ref_module(
        "delm.strategies.splitting_strategies", base / "strategies/splitting_strategies.py"
    )
    ref_score = _load_ref_module(
        "delm.strategies.scoring_strategies", base / "strategies/scoring_strategies.py"
    )
    yield {
        "schemas": ref_schemas,
        "post": ref_post,
        "splitting": ref_split,
        "scoring": ref_score,
    }


@contextmanager
def py4j_calls():
    """Counts the py4j round-trips (`send_command`) this thread makes in
    the block; yields a one-element list holding the running count.
    py4j's finalizer thread sends the deletions of garbage-collected
    JavaObjects asynchronously, at times unrelated to the block, so calls
    from other threads are not counted."""
    from py4j.java_gateway import GatewayClient

    me = threading.get_ident()
    count = [0]
    orig = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        if threading.get_ident() == me:
            count[0] += 1
        return orig(self, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        yield count
    finally:
        GatewayClient.send_command = orig


_SESSION: dict = {}


@pytest.fixture(scope="session")
def spark():
    from delm_spark.session import get_spark

    # cores/shuffle default 4/4: fixture-scale jobs are overhead-bound, and
    # the measured suite wall is ~15% LOWER at 4 cores than 8 (A/B on three
    # medium modules: 74.9 s vs 88.0 s; heavy modules neutral, 104 s vs
    # 102 s) — parallelism above the fixture row counts is pure scheduling
    # cost. Override with DELM_TEST_CORES / DELM_TEST_SHUFFLE.
    s = get_spark(
        app_name="delm-spark-tests",
        cores=int(os.environ.get("DELM_TEST_CORES", "4")),
        extra_conf={
            "spark.sql.shuffle.partitions": os.environ.get("DELM_TEST_SHUFFLE", "4"),
            # defense in depth for the module-boundary GC below: the
            # driver's own periodic cleaner GC defaults to 30min — longer
            # than the whole suite
            "spark.cleaner.periodicGC.interval": "2min",
        },
    )
    _SESSION["spark"] = s
    yield s
    _SESSION.pop("spark", None)
    s.stop()


def pytest_collection_modifyitems(config, items):
    """If this run collected any spark-submit e2e test, launch the
    subprocesses NOW (tests/submit_background.py): their ~72 s of JVM
    cold start + 4-core pipeline overlaps the in-session tests instead
    of serializing at the end of the alphabet. Tests join the Popen and
    keep every assertion."""
    needed = set()
    for item in items:
        if "test_submit_job" in item.nodeid:
            needed.add("job")
        elif "test_submit_curation" in item.nodeid:
            needed.add("curation")
    if needed:
        from tests import submit_background

        submit_background.start(needed)


def pytest_sessionfinish(session, exitstatus):
    from tests import submit_background

    submit_background.shutdown()


@pytest.fixture(autouse=True, scope="module")
def _reclaim_spark_blocks():
    """localCheckpoint()ed RDD blocks are unpersisted by Spark's
    ContextCleaner only after BOTH the Python proxy and its JVM handle
    are garbage-collected — and the driver's periodic GC defaults to 30
    MINUTES, longer than the suite, so every module's checkpoint blocks
    accumulated for the whole run and late modules ran ~5x slower under
    executor-heap pressure (measured: simhash parity 45 s in-suite vs
    7.9 s isolated; suite wall 1,758 s). Collecting both heaps at each
    module boundary lets blocks die with their module. Only truly
    unreferenced RDDs are affected — ContextCleaner is precise by
    construction, so live cross-module fixtures are untouched."""
    yield
    import gc

    gc.collect()
    s = _SESSION.get("spark")
    if s is not None:
        try:
            s._jvm.System.gc()
        except Exception:
            pass
