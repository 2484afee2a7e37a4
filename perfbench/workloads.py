"""The benchmark's workloads: what each one generates and which
operations one pass runs, in order.

An operation is one call that builds a DataFrame; the benchmark then
materialises it through Spark's ``noop`` sink. Input sizes are fixed
per workload; only the seed varies the content.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "catalog" or "cms"
    gen: dict = field(default_factory=dict)


WORKLOADS = {
    w.name: w
    for w in (
        # The 13 bench=True catalog headliners over generated sf0.001
        # tables: per-query fixed cost (driver round trips, planning,
        # job scheduling) sets the time, and every driver cutover takes
        # its driver path.
        Workload("catalog_sf0.001", "catalog", {"sf": 0.001}),
        # The paper's pipeline: get_aov then get_mhe over CMS-shaped
        # CSVs. Wide plans (one column per vocabulary category) make
        # Catalyst analysis, optimisation and codegen the cost.
        Workload(
            "cms_preprocess", "cms",
            {"n_patients": 2_000, "claims_per_patient_year": 2.0,
             "n_dx_ccs": 7, "n_pcs_ccs": 3},
        ),
    )
}


def generate(workload: Workload, out_dir: str, seed: int) -> dict[str, int]:
    """Write the workload's inputs for ``seed`` into ``out_dir``."""
    if workload.kind == "catalog":
        from gen_catalog import generate as gen

        return gen(out_dir, seed, **workload.gen)
    from gen_cms import generate as gen

    return gen(out_dir, seed, **workload.gen)


def operations(workload: Workload, spark, data_dir: str) -> list[tuple[str, object]]:
    """``(name, build)`` pairs for one pass; ``build()`` returns the
    DataFrame the pass materialises."""
    if workload.kind == "catalog":
        from orx_surgical_spark.queries.catalog import REGISTRY

        return [
            (name, lambda q=q: q.fn(spark, data_dir))
            for name, q in sorted(REGISTRY.items())
            if q.bench
        ]
    from orx_surgical_spark.pipelines import cms

    return [
        ("get_aov", lambda: cms.get_aov(spark, data_dir)),
        ("get_mhe", lambda: cms.get_mhe(spark, data_dir)),
    ]


def data_dir_for(root: str, workload: Workload, seed: int) -> str:
    """Cache directory of the inputs; its name changes with the seed, the
    sizes and the generator's source, so a stale cache is never read."""
    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha1(repr(sorted(workload.gen.items())).encode())
    with open(os.path.join(here, f"gen_{workload.kind}.py"), "rb") as f:
        h.update(f.read())
    return os.path.join(root, ".perfbench", "data",
                        f"{workload.name}-seed{seed}-{h.hexdigest()[:10]}")
