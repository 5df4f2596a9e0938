"""Dump .explain("formatted") for declared queries to plans/<tag>/.

Usage: python tools/dump_plans.py <tag> [query ...]
       python tools/dump_plans.py <tag> --job <name> <jobs.py args ...>
Writes plans/<tag>/<query>.txt (rename to _before/_after when citing).
The --job form runs `jobs.py` in-process and writes, in order, the plan
of every frame the job persists to plans/<tag>/<name>.txt.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_extractor_spark.session import get_spark  # noqa: E402


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def dump_job(spark, path: str, argv: list[str]) -> None:
    import jobs

    frame_cls = type(spark.range(1))
    persist = frame_cls.persist
    plans = []

    def recording(self, *a, **k):
        plans.append(_formatted(self.select("*")))
        return persist(self, *a, **k)

    frame_cls.persist = recording
    jobs.get_spark = lambda *a, **k: spark
    sys.argv = ["jobs.py", *argv]
    try:
        jobs.main()
    finally:
        frame_cls.persist = persist
    with open(path, "w") as f:
        f.write("\n".join(f"# persisted frame {i}\n{p}"
                          for i, p in enumerate(plans, 1)))
    print(f"wrote {path} ({len(plans)} persisted frames)", flush=True)


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    if names[:1] == ["--job"]:
        dump_job(spark, os.path.join(out_dir, f"{names[1]}.txt"), names[2:])
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from pdf_extractor_spark.queries import QUERIES

    if not names:
        names = list(QUERIES)
    for name in names:
        plan = _formatted(QUERIES[name](spark, sf_dir))
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name} ({len(plan)} chars)", flush=True)


if __name__ == "__main__":
    main()
