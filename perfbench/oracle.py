"""DuckDB oracle results for the benchmark's op lists.

Each op's `Registry.oracleSql` query runs once through DuckDB over the
fixture, and its result is stored as parquet, keyed by the SQL text and the
fixture's contents. The harness reads these files back only after its clocks
stop, so no oracle work falls inside a timed region.
"""
import hashlib
import json
import os
import subprocess

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def fixture_digest(fixture):
    h = hashlib.sha256()
    for t in TABLES:
        h.update((fixture / f"{t}.parquet").read_bytes())
    return h.hexdigest()


def oracle_sql(out, cp, stamp):
    """workload -> op -> SQL (None: op missing or without oracle)."""
    path = out / f"oracle_sql-{stamp[:16]}.json"
    if not path.is_file():
        tmp = path.with_suffix(".tmp")
        subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
                        "-cp", cp, "graft.perfbench.Harness",
                        "oracle-sql", str(tmp)], check=True, stdout=subprocess.DEVNULL)
        os.replace(tmp, path)
    return json.loads(path.read_text())


def ensure_results(out, fixture, sqls):
    """Runs every missing oracle; returns op -> parquet path for the ops
    whose oracle produced a result, and op -> error for the rest."""
    cache = out / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    fdig = fixture_digest(fixture)
    paths, errors, con = {}, {}, None
    for op, sql in sorted(sqls.items()):
        if sql is None:
            errors[op] = "no oracle SQL (op missing or undeclared)"
            continue
        key = hashlib.sha256((fdig + "\n" + sql).encode()).hexdigest()
        path = cache / f"{key}.parquet"
        if not path.is_file():
            if con is None:
                import duckdb
                con = duckdb.connect(config={"threads": 2,
                                             "temp_directory": str(out / "duckdb_tmp")})
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{fixture / (t + '.parquet')}')")
            tmp = cache / f"{key}.tmp.parquet"
            try:
                con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
            except Exception as e:  # a broken oracle fails its op, not the run
                errors[op] = f"oracle SQL failed: {e}"
                continue
            os.replace(tmp, path)
        paths[op] = path
    return paths, errors
