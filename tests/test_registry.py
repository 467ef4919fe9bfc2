"""Registry contract: ``QUERIES`` and ``ORACLES`` hold the same keys,
in registration order, however the self-registering modules are first
imported, and every bench headline name is one of them."""

from __future__ import annotations

import os
import subprocess
import sys

from mapreduce_join_comparison_spark import queries_catalog as qc

REPO = os.path.join(os.path.dirname(__file__), "..")


def test_every_query_has_oracle():
    assert set(qc.ORACLES) == set(qc.QUERIES)


def _registry_keys(first_import: str) -> list[str]:
    code = (
        f"import {first_import}\n"
        "from mapreduce_join_comparison_spark import queries_catalog as qc\n"
        "print('\\n'.join(qc.QUERIES))\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True
    )
    assert res.returncode == 0, res.stderr[-2000:]
    return res.stdout.split()


def test_pipeline_first_import_keeps_registration_order():
    """Importing the self-registering ``pipeline`` module FIRST drives
    the catalog body through a circular import, so the pipeline
    queries register only after the catalog body has finished. The
    resulting key list must match a catalog-first import exactly, in
    the same order."""
    catalog_first = _registry_keys(
        "mapreduce_join_comparison_spark.queries_catalog"
    )
    pipeline_first = _registry_keys("mapreduce_join_comparison_spark.pipeline")
    assert catalog_first == list(qc.QUERIES)
    assert pipeline_first == catalog_first


def test_bench_headline_names_all_registered():
    """Every bench.py HEADLINE name must be a registered catalog query —
    a rename that misses the headline list would otherwise only
    surface as a KeyError in a bench.py run."""
    import bench

    missing = [n for n in bench.HEADLINE if n not in qc.QUERIES]
    assert not missing, f"HEADLINE names not in catalog: {missing}"
    # and the list stays duplicate-free (duplicates skew the total)
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
