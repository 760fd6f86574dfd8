"""Correctness checks of the benchmark, made after the timed window.

- ts_serve: every answer is checked in the JVM (selector, range, bucket
  grid, row counts) and compared exactly against DuckDB half-open-range,
  plot-bucket and aggregate SQL over the same parquet files.
- batch composites: the first answer of each composite is compared with
  its DuckDB oracle (SparkEntry.oracleSql, as the run's own build wrote
  it), or, for text_quality_lr, which has no oracle, with a digest
  recorded in expected.json. Every later run of the composite must give
  the same digest.
"""
import glob
import hashlib
import json
import pickle
from pathlib import Path

import duckdb
import pandas as pd

HERE = Path(__file__).resolve().parent


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column order by name, tz-naive datetimes, rows sorted by value: the
    comparison tools/check_verify.py makes, kept here so the benchmark
    depends on no file outside perfbench/."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> str:
    """Empty string when equal, else the first difference."""
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    ao = a.astype(object).where(a.notna(), "\x00NULL")
    bo = b.astype(object).where(b.notna(), "\x00NULL")
    bad = (ao != bo).any(axis=1)
    if bad.any():
        i = bad.idxmax()
        return f"{int(bad.sum())}/{len(a)} rows differ; first: {dict(a.iloc[i])} vs {dict(b.iloc[i])}"
    return ""


def oracle_answers(inputs: Path, sql_file: Path, docs_dir: str) -> dict:
    """Map composite -> file of its normalized DuckDB answer. The answers
    are cached in the build directory under a digest of the input and the
    SQL text, so a changed oracle is run again."""
    cache = inputs / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    sql = json.loads(sql_file.read_text())
    con = None
    files = {}
    for n, text in sql.items():
        f = cache / (hashlib.sha256(f"{docs_dir}\n{text}".encode()).hexdigest()[:24] + ".pkl")
        if not f.exists():
            if con is None:
                con = duckdb.connect()
                con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/documents.parquet/*.parquet')")
            tmp = f.with_suffix(".tmp")
            tmp.write_bytes(pickle.dumps(normalize(con.execute(text).df())))
            tmp.rename(f)
        files[n] = f
    if con is not None:
        con.close()
    return files


def check_batch(ops: list, out: Path, oracle: dict) -> dict:
    """Map op id -> failure reason for every op whose answer is wrong."""
    expected = json.loads((HERE / "expected.json").read_text())["digests"]
    con = duckdb.connect()
    good = {}
    verdicts = {}
    for name in sorted({o["kind"] for o in ops}):
        files = glob.glob(str(out / "answer" / name / "*.parquet"))
        if name in oracle:
            if not files:
                verdicts[name] = "no answer to compare"
                continue
            got = normalize(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
            want = pickle.loads(oracle[name].read_bytes())
            diff = frames_equal(got, want)
            if diff:
                verdicts[name] = f"differs from the DuckDB oracle: {diff}"
                continue
            first = next((o for o in ops if o["kind"] == name and not o["error"]), None)
            good[name] = first["digest"] if first else None
        elif name in expected:
            good[name] = expected[name]
        else:
            verdicts[name] = "no oracle and no recorded digest"
    con.close()
    failed = {}
    for o in ops:
        if o["error"]:
            failed[o["id"]] = o["error"]
        elif o["kind"] in verdicts:
            failed[o["id"]] = verdicts[o["kind"]]
        elif o["digest"] != good.get(o["kind"]):
            failed[o["id"]] = f"digest {o['digest'][:12]} != {str(good.get(o['kind']))[:12]}"
    return failed


def check_serve(ops: list, answers_file: Path, events_path: str) -> tuple:
    """(op id -> failure reason, number of answers compared with DuckDB).
    An op that returned without error and has no answer in the file
    fails too."""
    failed = {o["id"]: o["error"] for o in ops if o["error"]}
    con = duckdb.connect()
    con.execute(f"CREATE TABLE ev AS SELECT event_type AS series_name, CAST(user_id AS VARCHAR) AS user_id, "
                f"epoch_us(ts) AS us, value FROM read_parquet('{events_path}/*.parquet')")
    compared = set()
    for line in answers_file.read_text().splitlines() if answers_file.exists() else []:
        s = json.loads(line)
        key = [s["series_name"], s["user_id"]]
        lo, hi = s["start_s"] * 1000000, s["end_s"] * 1000000
        if s["kind"] == "get_data":
            want = con.execute("SELECT us, value FROM ev WHERE series_name = ? AND user_id = ? AND us >= ? AND us < ? "
                               "ORDER BY us, value", key + [lo, hi]).fetchall()
            got = sorted((int(a), float(b)) for a, b in s["answer"])
        elif s["kind"] == "plot_data":
            # TimeSeriesOps.plotData: min/max/first/last point per bucket
            pick = " UNION ALL ".join(
                f"SELECT b, '{role}', us, value FROM (SELECT *, row_number() OVER (PARTITION BY b ORDER BY {order}) AS rn "
                f"FROM r) WHERE rn = 1"
                for role, order in (("min", "value, us"), ("max", "value DESC, us"),
                                    ("first", "us, value"), ("last", "us DESC, value DESC")))
            want = con.execute(f"""
                WITH r AS (
                  SELECT us, value, CAST(FLOOR(CAST(us - $lo AS DOUBLE) * CAST($n AS DOUBLE) / CAST($span AS DOUBLE)) AS BIGINT) AS b
                  FROM ev WHERE series_name = $s AND user_id = $u AND us >= $lo AND us < $hi)
                {pick}""", {"lo": lo, "hi": hi, "n": s["buckets"], "span": hi - lo, "s": key[0], "u": key[1]}).fetchall()
            got = sorted((int(b), r, int(t), float(v)) for b, r, t, v in s["answer"])
            want = sorted((int(b), r, int(t), float(v)) for b, r, t, v in want)
        elif s["kind"] == "metadata":
            n, lo_v, hi_v = con.execute("SELECT count(*), min(value), max(value) FROM ev "
                                        "WHERE series_name = ? AND user_id = ?", key).fetchone()
            want, got = [float(n), lo_v, hi_v], s["answer"]
        else:
            n, pts = con.execute("SELECT count(DISTINCT (series_name, user_id)), count(*) FROM ev").fetchone()
            want, got = {"series": n, "points": pts}, s["answer"]
        compared.add(s["op"])
        if want != got:
            failed[s["op"]] = f"{s['kind']} {key} [{s['start_s']}, {s['end_s']}): answer differs from DuckDB"
    con.close()
    for o in ops:
        if o["id"] not in failed and o["id"] not in compared:
            failed[o["id"]] = "answer not compared with DuckDB"
    return failed, len(compared)
