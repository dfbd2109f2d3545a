#!/usr/bin/env python3
"""Regenerate ``expected.json``: the answer every workload query must
give on the benchmark fixture.

    python3 perfbench/make_expected.py

Where the registry has a DuckDB oracle for a query, the expected answer
is DuckDB's result of that SQL over the same fixture files (and the
same lake layouts, for the oracles that read them). For the queries
without an oracle it is the engine's own output when this is run. Each
query is also run by the engine in two fresh sessions; a query whose
engine answer differs from the oracle's, or between the two sessions,
is kept with a ``finding`` note rather than dropped.
"""

from __future__ import annotations

import json
import os
import sys

import run


def duck_answers(engine, names: list[str], original_root: str) -> dict:
    import duckdb

    from answers import answer, duck_type

    con = duckdb.connect()
    con.execute("SET memory_limit='4GB'")
    con.execute("SET threads=4")
    con.execute(f"SET temp_directory='{os.path.join(run.WORK, 'tmp', 'duckdb')}'")
    for t in engine.io.FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.SF_DIR}/{t}.parquet'")
    out = {}
    for name in names:
        # oracle strings name the engine's own scratch root; point them
        # at the layouts this benchmark built
        rel = con.sql(engine.registry.ORACLES[name].replace(original_root, run.SCRATCH))
        out[name] = answer(rel.columns, [duck_type(t) for t in rel.types], rel.fetchall())
    con.close()
    return out


def engine_answers(engine, spark, names: list[str]) -> dict:
    from answers import spark_answer

    engine.registry.ensure_layouts(spark, run.SF_DIR)
    out = {}
    for name in names:
        try:
            out[name] = spark_answer(engine.queries[name](spark, run.SF_DIR))
        except Exception as exc:
            out[name] = {"error": f"{type(exc).__name__}: {str(exc)[:300]}"}
    return out


def main() -> None:
    run.pin_environment()
    sys.path.insert(0, run.ROOT)
    if not os.path.isfile(run.PREPARED):
        run.prepare()
    from etl_pyspark_spark.queries import _shared

    original_root = _shared._SCRATCH
    engine = run.Engine()
    workloads = run.load_json("workloads.json")
    names = sorted({q for w in workloads.values() for q in w["queries"]})
    duck = duck_answers(engine, [n for n in names if n in engine.registry.ORACLES], original_root)
    spark = engine.start()
    first = engine_answers(engine, spark, names)
    spark.stop()
    spark = engine.start()
    second = engine_answers(engine, spark, names)
    run.shutdown(spark)

    expected = {}
    for name in names:
        entry = {**(duck.get(name) or first[name]), "source": "oracle" if name in duck else "engine"}
        notes = []
        if "error" in first[name]:
            notes.append(f"engine raised {first[name]['error']}")
        elif name in duck and first[name] != duck[name]:
            notes.append("engine answer differs from the oracle")
        if first[name] != second[name]:
            notes.append("engine answer differs between two sessions")
        if notes:
            entry["finding"] = "; ".join(notes)
            print(f"finding {name}: {entry['finding']}")
        expected[name] = entry
    lines = [f" {json.dumps(k)}: {json.dumps(v, sort_keys=True)}" for k, v in sorted(expected.items())]
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        fh.write("{\n" + ",\n".join(lines) + "\n}\n")


if __name__ == "__main__":
    main()
