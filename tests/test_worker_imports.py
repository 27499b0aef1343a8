"""The stat-gated zip importer (``lightfusion_spark._worker_imports``).

The unit tests drive ``install()`` in this process against a temp zip, with
a fake task context and the import state restored afterwards; the last test
runs a package-backed Arrow UDF in real Spark workers.
"""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import numpy as np
import pyarrow as pa
import pytest
from pyspark import TaskContext

from lightfusion_spark import _worker_imports
from lightfusion_spark._worker_imports import GatedZipImporter, install
from lightfusion_spark.fixtures import fixture_path

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ``install()`` is a no-op where the stock invalidation is already lazy.
eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ zipimport invalidation is lazy"
)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``gz_alpha`` on ``sys.path``, imported through a
    plain ``zipimporter``; the import state is restored afterwards."""
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("gz_alpha.py", "VALUE = 1\n")
    classes = [(f, type(f)) for f in sys.path_importer_cache.values() if f is not None]
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(sys, "path", [path, *sys.path])
    monkeypatch.setattr(_worker_imports, "_directories", {})
    importlib.import_module("gz_alpha")
    assert type(sys.path_importer_cache[path]) is zipimport.zipimporter
    yield path
    for finder, cls in classes:
        finder.__class__ = cls
    for name in ("gz_alpha", "gz_beta"):
        sys.modules.pop(name, None)


@pytest.fixture
def in_task(monkeypatch):
    monkeypatch.setattr(TaskContext, "_taskContext", object.__new__(TaskContext))


@pytest.fixture
def directory_reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in call order."""
    calls = []
    read = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _import_state():
    return list(sys.path_hooks), {k: (v, type(v)) for k, v in sys.path_importer_cache.items()}


@eager_zip_invalidation
def test_unchanged_archive_is_not_reread(archive, in_task, directory_reads):
    importlib.invalidate_caches()
    assert archive in directory_reads  # the stock importer re-reads every time

    install()
    assert type(sys.path_importer_cache[archive]) is GatedZipImporter
    assert GatedZipImporter in sys.path_hooks
    assert zipimport.zipimporter not in sys.path_hooks
    directory_reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert directory_reads == []
    assert importlib.import_module("gz_alpha").VALUE == 1


@eager_zip_invalidation
def test_rewritten_archive_is_reread(archive, in_task, directory_reads):
    install()
    directory_reads.clear()
    # Appending rewrites the archive in place: same inode, new size.
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("gz_beta.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert directory_reads.count(archive) == 1
    assert importlib.import_module("gz_beta").VALUE == 2
    directory_reads.clear()
    importlib.invalidate_caches()
    assert directory_reads == []


@eager_zip_invalidation
def test_second_install_is_a_no_op(archive, in_task, directory_reads):
    install()
    before = _import_state()
    directory_reads.clear()
    install()
    assert _import_state() == before
    assert directory_reads == []


def test_install_outside_a_task_changes_nothing(archive):
    assert TaskContext.get() is None
    before = _import_state()
    install()
    assert _import_state() == before


def test_package_root_is_lazy_and_leaves_driver_imports_alone():
    code = (
        "import sys\n"
        "hooks = list(sys.path_hooks)\n"
        "import lightfusion_spark.functions.inference\n"
        "assert 'lightfusion_spark.session' not in sys.modules\n"
        "assert 'lightfusion_spark.frontdoor' not in sys.modules\n"
        "assert sys.path_hooks == hooks\n"
        "from lightfusion_spark import configure_session, LightFusionSession, __version__\n"
        "assert 'lightfusion_spark.session' in sys.modules\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO_ROOT, check=True)


def test_operators_package_is_lazy():
    """A worker importing one operator module (the BLEU/chrF/ROUGE cell
    fold's ``evalmetrics``) loads none of its siblings; the package's
    names still resolve on demand."""
    code = (
        "import sys\n"
        "import lightfusion_spark.operators.evalmetrics\n"
        "assert 'lightfusion_spark.operators.multimodal' not in sys.modules\n"
        "assert 'lightfusion_spark.operators.asof' not in sys.modules\n"
        "from lightfusion_spark import operators\n"
        "from lightfusion_spark.operators import asof\n"
        "assert operators.multimodal.__name__ == 'lightfusion_spark.operators.multimodal'\n"
        "assert asof is operators.asof\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO_ROOT, check=True)


@eager_zip_invalidation
def test_package_udf_gates_worker_zip_importers(spark):
    """Two runs of package-backed Arrow UDFs in one session: the workers
    hold only gated zip importers and score the same both times."""
    from pyspark.sql import functions as F

    from lightfusion_spark.functions.inference import make_lightgbm_udf

    @F.arrow_udf("string")
    def importers(ids):
        # Referencing a package class makes the worker import the package
        # (and so run ``install()``) when it unpickles this function.
        finders = sys.path_importer_cache.values()
        plain = sum(type(f) is zipimport.zipimporter for f in finders)
        gated = sum(type(f) is GatedZipImporter for f in finders)
        return pa.array([f"{plain},{gated}"] * len(ids))

    score = make_lightgbm_udf(fixture_path("models", "multiclass.lgbm"), batch_size=7)
    rows = np.random.RandomState(5).standard_normal((64, 28)).round(4).tolist()
    df = spark.createDataFrame(list(enumerate(rows)), "id INT, f ARRAY<DOUBLE>").repartition(4)
    query = df.select("id", score("f").alias("p"), importers("id").alias("z"))

    first = sorted(query.collect())
    second = sorted(query.collect())
    assert [(r.id, r.p) for r in first] == [(r.id, r.p) for r in second]
    for counts in {r.z for r in second}:
        plain, gated = map(int, counts.split(","))
        # Workers import pyspark from pyspark.zip, so there are importers to gate.
        assert plain == 0 and gated > 0, counts
