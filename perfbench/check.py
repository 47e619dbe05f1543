"""Output checks for the graft benchmark, run after the timed region.

Named ops: every timed op has an oracle (``SparkEntry.oracleSql``). Its
cold-pass and last-pass outputs, each written right after its call, are
compared with the oracle run by DuckDB on the same generated tables.

The daily lifecycle: the last day's reads are compared with DuckDB
references built from the batches that were written: latest-per-key for
the game log, the hourly windowed aggregate as of the previous tick for
the stream's sink, and an as-of join for the point-in-time features.

Results are canonicalized as ``scripts/check_oracle.py`` does: columns and
rows sorted, floats rounded to four places, compared as strings.
"""
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].astype("float64").round(4)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df.astype(str)


def read(res, out, name):
    """An output the JVM wrote for the checks, or the error that stopped it."""
    if name in res["check_errors"]:
        raise ValueError(res["check_errors"][name])
    files = glob.glob(os.path.join(out, "check", name, "*.parquet"))
    if not files:
        raise ValueError(f"no parquet output for {name}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def same(got, want):
    """None when equal, else a short reason."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"
    diff = (got != want).any(axis=1)
    return None if not diff.any() else f"{int(diff.sum())}/{len(got)} rows differ"


def connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _queries(ops, res, data, out, warm):
    con = connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = []
    for op in ops:
        try:
            want = con.execute(res["oracle"][op]).fetchdf()
        except Exception as e:  # no oracle, or one that fails, fails both passes
            bad += [(p, op, f"oracle {type(e).__name__}: {e}") for p in (0, warm)]
            continue
        for p, tag in ((0, "cold"), (warm, "last")):
            try:
                why = same(read(res, out, f"{op}.{tag}"), want)
            except Exception as e:  # a missing or unreadable output is a failure
                why = f"{type(e).__name__}: {e}"
            if why:
                bad.append((p, op, why))
    return bad


def _daily(res, data, out, warm):
    days = warm + 1
    con = connect()

    def files(kind, upto):
        return [f"{data}/{kind}_d{d:02d}.parquet" for d in range(upto)]

    def window(upto):
        return con.execute(f"""
            SELECT strftime(time_bucket(INTERVAL 1 HOUR, make_timestamp(ts // 1000)),
                            '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, count(*) AS n_events,
                   floor(sum(value) * 10000 + 0.5) / 10000 AS sum_value
            FROM read_parquet({files('events', upto)}) GROUP BY 1, 2""").fetchdf()

    # labels for day d are committed on day d + 1, so the last day's are not
    inserts = files("insert", days)
    labels = files("label", days - 1)
    latest = con.execute(f"""
        SELECT i.event_id, i.user_id, i.ts, i.value, coalesce(l.label, i.label) AS label
        FROM read_parquet({inserts}) i
        LEFT JOIN {f"read_parquet({labels})" if labels else
                   "(SELECT NULL::BIGINT AS event_id, NULL::VARCHAR AS label)"} l
        USING (event_id)""").fetchdf()
    features = con.execute(f"""
        SELECT p.event_id, p.user_id, p.ts, v.value AS prior_view_value
        FROM read_parquet('{data}/insert_d{days - 1:02d}.parquet') p
        ASOF LEFT JOIN (SELECT user_id, ts, value FROM read_parquet({files('events', days)})
                        WHERE event_type = 'view') v
        ON p.user_id = v.user_id AND p.ts > v.ts""").fetchdf()
    refs = {"read_latest": latest, "pit_features": features}
    if days > 1:
        refs["read_sink_asof"] = window(days - 1)
    bad = []
    for name, want in refs.items():
        try:
            got = read(res, out, name)
            if name == "read_sink_asof":
                got = got[["window_start", "event_type", "n_events", "sum_value"]]
            why = same(got, want)
        except Exception as e:
            why = f"{type(e).__name__}: {e}"
        if why:
            bad.append((days - 1, name, why))
    return bad


def run(cfg, res, data, out, warm):
    """Every wrong or missing output as ``(pass, op, reason)``, the pass
    and op naming the call that gave it (empty when all agree)."""
    bad = _queries(cfg["ops"], res, data, out, warm)
    if "lifecycle" in cfg:
        bad += _daily(res, data, out, warm)
    return bad
