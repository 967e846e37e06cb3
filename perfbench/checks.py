"""Output checks, run after the timed region.

Frames are compared the way ``scripts/check_correctness.py`` does:
same row count, same column names, and equal values after every cell
is rendered to a string and the rows are sorted by all columns.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from enclaveid_data_pipeline_spark.queries import REGISTRY

from . import dag


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if isinstance(col.dtype, pd.DatetimeTZDtype):
            col = col.dt.tz_convert(None)
        if col.dtype == object:
            out[c] = col.map(lambda v: repr(v.tolist() if hasattr(v, "tolist") else v))
        elif str(col.dtype).startswith("float"):
            out[c] = col.map(lambda v: "null" if pd.isna(v) else repr(float(v)))
        else:
            out[c] = col.map(lambda v: "null" if pd.isna(v) else repr(v))
    if len(out.columns):
        out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Problem strings, empty when the two frames match."""
    if len(got) != len(want):
        return [f"{name}: rows {len(got)} != {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: cols {sorted(got.columns)} != {sorted(want.columns)}"]
    a, b = normalize(got), normalize(want)
    if a.equals(b):
        return []
    bad = (a != b).any(axis=1)
    i = int(bad.idxmax())
    return [f"{name}: values differ, first at {a.loc[i].to_dict()} vs {b.loc[i].to_dict()}"]


def read_table_dir(path: str) -> pd.DataFrame:
    """A per-user partitioned parquet table, partition column included."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
        ).fetchdf()
    finally:
        con.close()


def _events_con(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def check_dag_outputs(data_dir: str, out_dir: str) -> tuple[list[str], float]:
    """The bulk DAG's outputs against the registry oracles on the same
    input: the recency split against ``recency_split_3mo``, the
    sessions against ``mock_sessions_multi`` over the recent events,
    and the object validity ratio against what the noisy mock implies
    (``json_validity_counters_multi``).  Returns (problems, measured
    valid-object ratio)."""
    con = _events_con(data_dir)
    try:
        problems: list[str] = []
        recent = read_table_dir(os.path.join(out_dir, "recent_events"))
        recent["ts_s"] = recent["ts"].dt.strftime("%Y-%m-%d %H:%M:%S")
        want = con.execute(REGISTRY["recency_split_3mo"].oracle).fetchdf()
        problems += compare("recency_split", recent[["user_id", "event_id", "ts_s"]], want)
        # the session oracles read ``events``: point it at the recent rows
        con.execute("CREATE TABLE recent AS SELECT e.* FROM events e JOIN ("
                    + REGISTRY["recency_split_3mo"].oracle + ") r USING (event_id)")
        con.execute("DROP VIEW events")
        con.execute("ALTER TABLE recent RENAME TO events")
        sessions = read_table_dir(os.path.join(out_dir, "sessions"))
        got = pd.DataFrame({
            "user_id": sessions["user_id"], "date_s": sessions["date_s"],
            "chunk_id": sessions["chunk_id"], "sub_id": sessions["session_idx"],
            "time_start": sessions["time_start"], "time_end": sessions["time_end"],
            "description": sessions["description"],
            "n_interests": sessions["interests"].map(len).astype("int64"),
        })
        want = con.execute(REGISTRY["mock_sessions_multi"].oracle).fetchdf()
        problems += compare("sessions", got, want)
        quality = read_table_dir(os.path.join(out_dir, "session_quality"))
        ratio = quality["valid_sessions"].sum() / quality["all_sessions"].sum()
        q = con.execute(REGISTRY["json_validity_counters_multi"].oracle).fetchdf()
        implied = q["valid_sessions"].sum() / q["all_sessions"].sum()
        if ratio != implied:
            problems.append(f"valid_object_ratio {ratio} != {implied} implied by the noisy mock")
        return problems, float(ratio)
    finally:
        con.close()


def check_same_tables(got_dir: str, want_dir: str) -> list[str]:
    """Every DAG output table under ``got_dir`` equals ``want_dir``'s."""
    problems: list[str] = []
    for table in dag.OUTPUTS:
        problems += compare(
            table,
            read_table_dir(os.path.join(got_dir, table)),
            read_table_dir(os.path.join(want_dir, table)),
        )
    return problems


def check_queries(spark, data_dir: str, names) -> list[str]:
    """Each registry query against its DuckDB oracle."""
    con = _events_con(data_dir)
    try:
        problems: list[str] = []
        for name in names:
            got = REGISTRY[name].fn(spark, data_dir).toPandas()
            want = con.execute(REGISTRY[name].oracle).fetchdf()
            problems += compare(name, got, want)
        return problems
    finally:
        con.close()
