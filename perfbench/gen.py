"""Seeded sensor-stream generator and expected answers.

Writes the engine's ``events`` fixture schema (event_id, ts, user_id,
event_type, value, props) as parquet files in event-time order, one
stream per call.  File ``i`` gets modification time ``MTIME_BASE + i``,
because Spark's file source orders new files by modification time.
Device popularity is Zipf-skewed.  The same seed gives byte-identical
files.

Where the traffic's parameters come from (``profile`` measures them, on
a generated stream or on an events fixture:
``python3 perfbench/gen.py <dir>/events.parquet``):

- rate: the reference producer's 100 devices x 1 event/s, i.e. 100
  events/s fleet-wide (BASELINE.md, SURVEY.md S3), so events are
  ``MEAN_GAP_US`` = 10 ms apart on average;
- shape of the gaps, devices, values, event types, props: the sf0.1
  ``events`` fixture (100k rows).  Its gaps are exponential (median /
  mean = 0.69 = ln 2), it has 1500 devices, its values are exponential
  with mean 49.9 (median 34.8 = ln 2 x mean) in whole cents, and
  event types and ``props.k`` (0-99) are uniform;
- skew: neither source has any (the fixture's per-device counts,
  45-99 around a mean of 66.7, are what uniform draws give).  Device
  popularity follows the classic Zipf law, exponent 1; it is the one
  parameter not taken from a source.

Expected answers are computed here with pandas from the generated
frame, never through the engine.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "view", "click", "purchase", "error"])
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
MTIME_BASE = 1_700_000_000
HOUR_US = 3_600_000_000
MEAN_GAP_US = 10_000  # 100 events/s
N_DEVICES = 1500
MEAN_VALUE_CENTS = 5000.0
ZIPF_S = 1.0

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass(frozen=True)
class StreamSpec:
    """One replayable stream: ``n_files`` files of ``events_per_file``
    events each."""

    n_files: int
    events_per_file: int

    @property
    def n_events(self) -> int:
        return self.n_files * self.events_per_file


def device_popularity(rng: np.random.Generator):
    """(device ids by popularity rank, probability of each rank)."""
    p = np.arange(1, N_DEVICES + 1, dtype=np.float64) ** -ZIPF_S
    return rng.permutation(N_DEVICES).astype(np.int64) + 1, p / p.sum()


def make_events(seed: int, stream: int, spec: StreamSpec) -> pd.DataFrame:
    """The stream's events in event-time order (strictly increasing ts,
    so a watermark never drops a row).  ``stream`` separates independent
    streams drawn from one seed."""
    rng = np.random.default_rng([seed, stream])
    n = spec.n_events
    devices, p = device_popularity(rng)
    gaps = np.maximum(rng.exponential(MEAN_GAP_US, size=n), 1.0)
    ts = START_US + np.cumsum(gaps.astype(np.int64))
    cents = np.minimum(rng.exponential(MEAN_VALUE_CENTS, size=n), 1e7).astype(np.int64)
    k = rng.integers(0, 100, size=n)
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64) + stream * 1_000_000_000,
            "ts": ts.astype(np.int64),
            "user_id": devices[rng.choice(N_DEVICES, size=n, p=p)],
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)],
            "value": cents / 100.0,
            "props": ['{"k": %d}' % v for v in k],
        }
    )


def write_stream(events: pd.DataFrame, spec: StreamSpec, out_dir: str) -> list[str]:
    """Write ``events`` as ``spec.n_files`` consecutive parquet files with
    increasing modification times; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.Table.from_pandas(
        events.assign(ts=pd.to_datetime(events["ts"], unit="us", utc=True)),
        schema=SCHEMA,
        preserve_index=False,
    ).replace_schema_metadata(None)
    paths = []
    for i in range(spec.n_files):
        path = os.path.join(out_dir, f"part_{i:05d}.parquet")
        chunk = table.slice(i * spec.events_per_file, spec.events_per_file)
        pq.write_table(chunk, path, compression="snappy")
        os.utime(path, (MTIME_BASE + i, MTIME_BASE + i))
        paths.append(path)
    return paths


# --- expected answers --------------------------------------------------------


def expected_hourly(events: pd.DataFrame) -> pd.DataFrame:
    """The engine's hourly_aggregates table: one row per (device,
    hour), sorted by both, with the exact integer-cents sum."""
    cents = np.rint(events["value"].to_numpy() * 100).astype(np.int64)
    frame = pd.DataFrame(
        {
            "device_id": events["user_id"].to_numpy(),
            "hour_bucket": (events["ts"].to_numpy() // HOUR_US) * 3600,
            "cents": cents,
            "value": events["value"].to_numpy(),
        }
    )
    g = frame.groupby(["device_id", "hour_bucket"], sort=True)
    out = g.agg(
        sum_cents=("cents", "sum"),
        max_value=("value", "max"),
        min_value=("value", "min"),
        event_count=("cents", "size"),
    ).reset_index()
    out["event_count"] = out["event_count"].astype(np.int64)
    out["avg_value"] = out["sum_cents"] / 100.0 / out["event_count"]
    return out


def latest_events(events: pd.DataFrame, device_id: int, limit: int) -> list[tuple]:
    """Rows of ``IoTEngine.latest_events`` as (event_id, ts_us, user_id,
    event_type, value), newest first."""
    rows = events[events["user_id"] == device_id].sort_values(
        ["ts", "event_id"], ascending=False
    )
    rows = rows.head(limit)
    return list(
        zip(
            rows["event_id"].tolist(),
            rows["ts"].tolist(),
            rows["user_id"].tolist(),
            rows["event_type"].tolist(),
            rows["value"].tolist(),
        )
    )


def hourly_rows(hourly: pd.DataFrame) -> list[tuple]:
    """Hourly rows as (device_id, hour_bucket, avg, max, min, count)."""
    return list(
        zip(
            hourly["device_id"].tolist(),
            hourly["hour_bucket"].tolist(),
            hourly["avg_value"].tolist(),
            hourly["max_value"].tolist(),
            hourly["min_value"].tolist(),
            hourly["event_count"].tolist(),
        )
    )


# --- traffic profile ---------------------------------------------------------


def profile(events: pd.DataFrame) -> dict:
    """The traffic parameters the generator takes from its sources,
    measured on ``events`` (``ts`` in microseconds or as timestamps)."""
    ts = events["ts"].to_numpy()
    if ts.dtype.kind == "M":
        ts = ts.astype("datetime64[us]").astype(np.int64)
    gaps = np.diff(np.sort(ts)).astype(np.float64)
    per_device = events["user_id"].value_counts()
    value = events["value"].to_numpy()
    return {
        "events": len(events),
        "devices": int(len(per_device)),
        "events_per_s": 1e6 / gaps.mean(),
        "gap_median_over_mean": float(np.median(gaps) / gaps.mean()),
        "device_share_top": float(per_device.iloc[0] / len(events)),
        "device_count_min_max": (int(per_device.min()), int(per_device.max())),
        "value_mean": float(value.mean()),
        "value_median_over_mean": float(np.median(value) / value.mean()),
        "value_whole_cents": bool(np.allclose(np.rint(value * 100), value * 100, rtol=0, atol=1e-6)),
        "event_types": int(events["event_type"].nunique()),
    }


if __name__ == "__main__":
    import json
    import sys

    print(json.dumps(profile(pq.read_table(sys.argv[1]).to_pandas()), indent=1))
