"""The north-rule deployment shape, executed for real: the crawl runs
as a cluster job via ``spark-submit --py-files <package.zip>``.

Everything a real deployment does is exercised end to end:

* the package is shipped as a zip (built fresh from the working tree),
  NOT importable from the driver cwd — the test runs spark-submit from
  a scratch directory so only --py-files can supply the code to both
  the driver and the executor Python workers (the extract/canonicalize
  pandas UDFs are cloudpickled BY REFERENCE to the module name, so a
  worker that can't import the zip fails loudly);
* the entry script is the installed CLI (plans/crawl.py __main__),
  with the same argv the README documents;
* the produced store is read back and compared against the oracle
  crawler's page set — not just "exit code 0".

Kept tiny (one fixture site, local[2]) because a full JVM spin-up per
spark-submit costs ~25 s; the point is the packaging/deployment seam,
not throughput.
"""

import os
import subprocess
import sys
import zipfile

import pytest

from tests.conftest import web_dict_to_df
from tests.oracle_crawler import crawl as oracle_crawl, fan_site

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build_zip(dest: str) -> str:
    """Zip the package exactly like the README's deployment recipe
    (zip -r wi.zip website_indexer_spark), from the working tree."""
    pkg_root = os.path.join(REPO, "website_indexer_spark")
    zpath = os.path.join(dest, "wi.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg_root):
            if "__pycache__" in root:
                continue
            for name in files:
                if name.endswith(".pyc"):
                    continue
                full = os.path.join(root, name)
                z.write(full, os.path.relpath(full, REPO))
    return zpath


@pytest.mark.slow
def test_spark_submit_py_files_crawl(spark, tmp_path):
    web, seed = fan_site()
    oracle = oracle_crawl(web, seed)
    web_path = str(tmp_path / "web_pages")
    web_dict_to_df(spark, web).write.parquet(web_path)

    zpath = _build_zip(str(tmp_path))
    out_dir = str(tmp_path / "submitted_crawl")
    entry = str(tmp_path / "job.py")
    # the entry script is the package CLI invoked as a file, exactly
    # like the README: spark-submit needs a script path, and the
    # script itself must resolve the package from --py-files
    with open(entry, "w") as f:
        f.write(
            "import website_indexer_spark.plans.crawl as c\n"
            "c.main()\n"
        )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # only --py-files may supply the code
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zpath,
            entry,
            "--web-pages", web_path,
            "--seed", seed,
            "--out", out_dir,
            "--bloom",  # force the prefilter on at fixture scale
        ],
        cwd=str(tmp_path),  # NOT the repo: imports must come from the zip
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "crawl finished:" in proc.stdout, proc.stdout[-2000:]

    # read the submitted job's store back in THIS session and compare
    from website_indexer_spark.sources.tables import CrawlStore

    store = CrawlStore(spark, out_dir)
    pages = {r["url"] for r in store.read_all("pages").collect()}
    assert pages == set(oracle.pages)
    errors = {r["url"] for r in store.read_all("errors").collect()}
    assert errors == {e["url"] for e in oracle.errors}
    # the submitted job really took the Bloom prefilter path
    assert os.path.isdir(os.path.join(out_dir, "bloom"))
