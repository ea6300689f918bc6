"""Expected outputs, computed in a child process before Spark starts.

DuckDB and the pandas SGP oracle run in-process, so running them in
the benchmark's own process would charge their memory to its peak RSS
and their threads to its first timed operations.

    python3 perfbench/expected.py query <out.pkl> <data_dir> <row> ...
    python3 perfbench/expected.py draft <out.pkl> <raw_dir> ...
"""

from __future__ import annotations

import os
import pickle
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

def query_oracles(data_dir: str, names: list[str]) -> dict[str, tuple]:
    """Each row's registered DuckDB SQL over the same files:
    ``name -> (columns, rows)``, or ``name -> (None, error)``."""
    import duckdb

    from dbt_lakehouse_aws_spark.sources.catalog import STAR_TABLES
    from dbt_lakehouse_aws_spark.standard_queries import all_oracles

    oracles = all_oracles()
    con = duckdb.connect(config={"threads": 2, "memory_limit": "2GB"})
    for t in STAR_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    out = {}
    for name in names:
        try:
            rel = con.sql(oracles[name])
            out[name] = ([c.lower() for c in rel.columns], rel.fetchall())
        except Exception as e:  # reported as a failed check of this row
            out[name] = (None, f"{type(e).__name__}: {e}")
    con.close()
    return out


def draft_oracle(raw_dir: str) -> dict:
    """The OC marts from the engine's independent pandas SGP oracle."""
    import pathlib

    from dbt_lakehouse_aws_spark.sgp.config import OC
    from perfbench import gen_sgp
    from tests import sgp_fixtures, sgp_oracle

    # the oracle reads the fixture layout's latest date and system names
    if (gen_sgp.LATEST, gen_sgp.HIT_SYSTEMS, gen_sgp.PITCH_SYSTEMS) != (
            sgp_fixtures.LATEST, sgp_fixtures.HIT_SYSTEMS, sgp_fixtures.PITCH_SYSTEMS):
        raise RuntimeError("gen_sgp's layout no longer matches tests/sgp_fixtures.py")
    src = sgp_oracle.load_sources(pathlib.Path(raw_dir))
    ids = sgp_oracle.ids_frame(src["players"], src["id_map"])
    factors = sgp_oracle.factor_table(src["standings"])
    hit = sgp_oracle.hitting_values(src, ids, factors, OC)
    pitch = sgp_oracle.pitching_values(src, ids, factors, OC)
    mart = sgp_oracle.overall_rankings(src, ids, hit, pitch, OC)
    return {"factors": factors, "mart": mart}


def main(argv: list[str]) -> int:
    kind, out_path, *args = argv
    if kind == "query":
        result = query_oracles(args[0], args[1:])
    else:
        result = {raw: draft_oracle(raw) for raw in args}
    with open(out_path, "wb") as f:
        pickle.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
