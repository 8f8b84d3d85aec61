"""Seeded inputs and DuckDB oracle value hashes for the benchmark.

Nothing here starts Spark. Inputs are generated with the package's own
generator (``datagen.transcripts.generate_transcripts``), written as
arrival-ordered part files plus one bronze file the oracle reads, and
cached per (workload, part sizes, seed, source digest) under the
checkout's ``.bench_cache``.
The oracle runs the package's DuckDB templates over the bronze file
once per cache entry, so its cost never lands inside a timed phase.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd


def oracle_sql(path: str) -> dict[str, str]:
    """Sink / gold-DAG output name -> DuckDB oracle SQL over ``path``."""
    from crypto_near_real_time_data_ingestion_spark.operators.asof import (
        TOOL_ASOF_ORACLE_SQL_TEMPLATE,
    )
    from crypto_near_real_time_data_ingestion_spark.operators.histogram import (
        LAT_HIST_BIN_US,
        STREAM_LATENCY_HIST_ORACLE_SQL_TEMPLATE,
    )
    from crypto_near_real_time_data_ingestion_spark.operators.joins import (
        PAIRS_ORACLE_SQL_TEMPLATE,
    )
    from crypto_near_real_time_data_ingestion_spark.plans.gold_features import (
        CONV_FEATURES_ORACLE_SQL_TEMPLATE,
    )
    from crypto_near_real_time_data_ingestion_spark.plans.gold_windows import (
        WINDOW_RANK_ORACLE_SQL_TEMPLATE,
        WINDOW_STATS_ORACLE_SQL_TEMPLATE,
    )
    from crypto_near_real_time_data_ingestion_spark.plans.patterns import (
        ROLE_RUNS_ORACLE_SQL_TEMPLATE,
    )
    from crypto_near_real_time_data_ingestion_spark.plans.silver import (
        SILVER_ORACLE_SQL_TEMPLATE,
    )

    hour = WINDOW_STATS_ORACLE_SQL_TEMPLATE.format(path=path, grain="hour")
    week = WINDOW_STATS_ORACLE_SQL_TEMPLATE.format(path=path, grain="week")
    features = CONV_FEATURES_ORACLE_SQL_TEMPLATE.format(path=path, gap_s=1800)
    return {
        "silver": SILVER_ORACLE_SQL_TEMPLATE.format(path=path),
        "gold_hour": hour,
        "gold_hour_rank": WINDOW_RANK_ORACLE_SQL_TEMPLATE.format(inner=hour),
        "pairs": PAIRS_ORACLE_SQL_TEMPLATE.format(path=path),
        "latency_hist": STREAM_LATENCY_HIST_ORACLE_SQL_TEMPLATE.format(
            path=path, bin_width_us=LAT_HIST_BIN_US
        ),
        # the streaming operator emits only the causal feature columns
        "features": (
            "SELECT conv_id, turn_idx, as_of_ts, turn_count, max_turn_idx, "
            "tool_call_rate, inter_turn_latency_p50, inter_turn_latency_p95, "
            "inter_turn_latency_p99, rolling_turns_10m, session_id, "
            f"session_start FROM ({features}) t"
        ),
        "role_runs": ROLE_RUNS_ORACLE_SQL_TEMPLATE.format(
            path=path, role="user", min_run=2
        ),
        "tool_asof": TOOL_ASOF_ORACLE_SQL_TEMPLATE.format(path=path),
        "plans.conv_features": features,
        "plans.conv_window_stats_trunc": week,
        "plans.rank_window_stats": WINDOW_RANK_ORACLE_SQL_TEMPLATE.format(inner=week),
    }


# -- order-insensitive value hash ------------------------------------------


def _canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, (float, np.floating)):
        if np.isnan(v):
            return "\\N"
        # ints that arrive as floats (a nullable int column in pandas)
        # hash like ints; real fractions keep every digit
        return str(int(v)) if float(v).is_integer() else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        t = pd.Timestamp(v)
        if pd.isna(t):
            return "\\N"
        if t.tzinfo is not None:
            t = t.tz_convert("UTC").tz_localize(None)
        return t.isoformat(timespec="microseconds")
    if v is pd.NaT:
        return "\\N"
    return str(v)


def value_hash(pdf: pd.DataFrame) -> dict:
    """Row count, sorted column names and an md5 over sorted canonical
    rows — equal for equal multisets of rows whatever the engine's
    dtype choices (int32 vs int64, ns vs us timestamps)."""
    cols = sorted(pdf.columns)
    canon = [[_canon(v) for v in pdf[c].astype(object).tolist()] for c in cols]
    rows = sorted("\x1f".join(r) for r in zip(*canon)) if cols else []
    md5 = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return {"rows": len(pdf), "cols": cols, "md5": md5}


# -- inputs ----------------------------------------------------------------


def _source_hash() -> str:
    """Digest of everything a cache entry is derived from: the generator
    module, the oracle SQL and this file. A change to any of them makes
    new cache entries instead of reusing stale inputs or oracle hashes."""
    from crypto_near_real_time_data_ingestion_spark.datagen import transcripts

    h = hashlib.md5()
    for path in (transcripts.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    h.update(json.dumps(oracle_sql("{bronze}"), sort_keys=True).encode())
    return h.hexdigest()[:12]


class SeedInputs:
    """One cached input set: ``parts/`` (arrival-ordered part files of the
    given turn counts), ``bronze.parquet`` (every generated row, for the
    oracle) and ``oracle.json`` (value hashes of ``names``)."""

    def __init__(self, cache_root: str, workload: str, part_turns: list[int],
                 seed: int, names: list[str]):
        self.part_turns, self.seed, self.names = list(part_turns), seed, list(names)
        key = hashlib.md5(json.dumps([part_turns, names]).encode()).hexdigest()[:8]
        self.dir = os.path.join(
            cache_root, f"{workload}-{key}-{_source_hash()}-s{seed}"
        )
        self.parts_dir = os.path.join(self.dir, "parts")
        self.bronze = os.path.join(self.dir, "bronze.parquet")
        self._oracle_path = os.path.join(self.dir, "oracle.json")
        self._meta_path = os.path.join(self.dir, "meta.json")

    def ensure(self) -> None:
        if os.path.exists(self._meta_path):
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        from crypto_near_real_time_data_ingestion_spark.datagen.transcripts import (
            SCHEMA,
            TranscriptConfig,
            generate_transcripts,
        )

        tmp = self.dir + f".build-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "parts"))
        total = sum(self.part_turns)
        df = generate_transcripts(TranscriptConfig(n_turns=total, seed=self.seed))
        pq.write_table(
            pa.Table.from_pandas(df, schema=SCHEMA, preserve_index=False),
            os.path.join(tmp, "bronze.parquet"),
        )
        # the generator overshoots n_turns slightly: split its rows in the
        # proportions asked for
        bounds = np.rint(
            np.concatenate([[0], np.cumsum(self.part_turns)]) / total * len(df)
        ).astype(int)
        for i in range(len(self.part_turns)):
            chunk = df.iloc[bounds[i] : bounds[i + 1]]
            pq.write_table(
                pa.Table.from_pandas(chunk, schema=SCHEMA, preserve_index=False),
                os.path.join(tmp, "parts", f"part-{i:05d}.parquet"),
            )
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"part_rows": np.diff(bounds).tolist()}, f)
        try:
            os.rename(tmp, self.dir)
        except OSError:
            # another run finished the same (deterministic) build first
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(self._meta_path):
                raise

    @property
    def part_rows(self) -> list[int]:
        with open(self._meta_path) as f:
            return json.load(f)["part_rows"]

    def oracle(self, tmp_dir: str) -> dict[str, dict]:
        """Value hashes of every named output, computed by DuckDB once per
        cache entry and kept beside the inputs."""
        if not os.path.exists(self._oracle_path):
            import duckdb

            sql = oracle_sql(self.bronze)
            con = duckdb.connect(config={"temp_directory": tmp_dir, "threads": 4})
            try:
                hashes = {n: value_hash(con.execute(sql[n]).df()) for n in self.names}
            finally:
                con.close()
            tmp = f"{self._oracle_path}.{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump(hashes, f)
            os.rename(tmp, self._oracle_path)
        with open(self._oracle_path) as f:
            return json.load(f)
