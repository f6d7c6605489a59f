"""The spark-submit ship path (north rule): the ``--py-files`` zip that
``tools/make_dist.py`` builds must import on its own. A module that
was deleted but is still imported somewhere fails here without a JVM."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dist_zip_imports_without_the_repo_on_path(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_dist.py")],
        check=True, capture_output=True, text=True,
    )
    zip_path = out.stdout.strip().splitlines()[-1]
    assert os.path.isfile(zip_path)
    probe = (
        "import go_scrapper_spark.oracle_queries as oq\n"
        "import go_scrapper_spark.plans.crawl as crawl\n"
        "print(oq.__file__)\n"
        "print(crawl.__file__)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = zip_path
    res = subprocess.run(
        [sys.executable, "-c", probe], cwd=tmp_path, env=env,
        capture_output=True, text=True,
    )
    assert res.returncode == 0, res.stderr
    files = res.stdout.split()
    assert len(files) == 2
    assert all(f.startswith(zip_path + os.sep) for f in files), files
