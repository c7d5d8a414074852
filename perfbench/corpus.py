"""Seeded CloudWatch Logs (CWL) subscription corpus and its reference reader.

A corpus is ``streams x shards`` of gzipped CWL envelope blobs, one blob per
file, laid out ``<root>/s<NN>/shard-<MM>/<seq>.gz`` so that a path replay of
``<root>`` reads every blob and a fake Kinesis stream serves one ``s<NN>``.

The properties the engine's behaviour depends on, per stream. They are
assumptions of this benchmark, not measurements of a real CWL subscription:
no public source gives their distribution.

- events per blob: skewed, the quantiles of a Pareto(1.6) draw clipped to
  ``[1, 20 x mean]`` (a few blobs carry most events);
- control messages (``CONTROL_MESSAGE``, dropped by the pipeline): 2 % of
  the blobs, at least one;
- ``DATA_MESSAGE`` blobs with an empty ``logEvents``: 2 %, at least one;
- shard skew: shard 0 (the hot shard) holds 40 % of the blobs;
- field entropy: distinct interfaces and hosts cycle through three levels
  (16/64, 256/1024, 4096/16384) from stream to stream.

With fewer than 50 blobs a stream the "at least one" makes the control and
empty shares larger than stated; the manifest records the shares as
written.

The seed decides which blob gets which size, kind and shard, and every field
value; the multiset of sizes is fixed, so every seed gives the same number
of events per stream and runs with different seeds do the same amount of
work. All numeric flow-log fields are decimal strings, so the typed cast
never fails under ANSI mode.
"""

from __future__ import annotations

import gzip
import json
import os
import random

import harness

FLOW_FIELDS = (
    ("version", int),
    ("account_id", str),
    ("interface_id", str),
    ("srcaddr", str),
    ("dstaddr", str),
    ("srcport", int),
    ("dstport", int),
    ("protocol", int),
    ("packets", int),
    ("bytes", int),
    ("start", int),
    ("end", int),
    ("action", str),
    ("log_status", str),
)
FIELD_NAMES = tuple(name for name, _ in FLOW_FIELDS)
SORTED_FIELDS = tuple(sorted(FIELD_NAMES))

PARETO_ALPHA = 1.6
CONTROL_SHARE = 0.02
EMPTY_SHARE = 0.02
HOT_SHARE = 0.4
ENTROPY_LEVELS = ((16, 64), (256, 1024), (4096, 16384))  # (interfaces, hosts)
GENERATOR_VERSION = 3  # bump when the layout or a distribution changes


def _control_envelope(ts: int) -> dict:
    return {
        "messageType": "CONTROL_MESSAGE",
        "owner": "CloudwatchLogs",
        "logGroup": "",
        "logStream": "",
        "subscriptionFilters": [],
        "logEvents": [
            {
                "id": "",
                "timestamp": ts,
                "message": "CWL CONTROL MESSAGE: Checking health of destination Kinesis stream.",
            }
        ],
    }


def _flow_row(r: random.Random, n_interfaces: int, n_hosts: int, account: str, t: int) -> dict:
    host = r.randrange(n_hosts)
    packets = int(r.paretovariate(1.2))
    return {
        "version": "2",
        "account_id": account,
        "interface_id": f"eni-{r.randrange(n_interfaces):08x}",
        "srcaddr": f"10.{host >> 8 & 255}.{host & 255}.{r.randrange(1, 255)}",
        "dstaddr": f"172.16.{r.randrange(256)}.{r.randrange(1, 255)}",
        "srcport": str(r.choice((443, 80, 53)) if r.random() < 0.3 else r.randrange(1024, 65536)),
        "dstport": str(r.choice((443, 80, 22, 3306, 5432)) if r.random() < 0.7 else r.randrange(1024, 65536)),
        "protocol": r.choice(("6", "6", "6", "17", "1")),
        "packets": str(packets),
        "bytes": str(packets * r.randrange(40, 1500)),
        "start": str(t),
        "end": str(t + r.randrange(1, 60)),
        "action": "REJECT" if r.random() < 0.1 else "ACCEPT",
        "log_status": "OK",
    }


def blob_sizes(blobs: int, mean_events: int) -> list[int]:
    """Events per blob of one stream, largest first: ``None`` marks a
    control message and ``0`` an empty ``logEvents``."""
    n_control = max(1, round(blobs * CONTROL_SHARE))
    n_empty = max(1, round(blobs * EMPTY_SHARE))
    n_data = blobs - n_control - n_empty
    scale = mean_events * (PARETO_ALPHA - 1) / PARETO_ALPHA
    cap = 20 * mean_events
    data = [
        max(1, min(cap, int(scale / (1 - (i + 0.5) / n_data) ** (1 / PARETO_ALPHA))))
        for i in range(n_data)
    ]
    return sorted(data, reverse=True) + [0] * n_empty + [None] * n_control


def generate(root: str, seed: int, streams: int, shards: int, blobs_per_stream: int,
             mean_events: int) -> dict:
    """Write a corpus under ``root`` and return its manifest."""
    rng = random.Random(seed)
    accounts = [f"{rng.randrange(10**11, 10**12)}" for _ in range(3)]
    t0 = 1_700_000_000 + rng.randrange(10**6)
    stats = {"blobs": 0, "control_blobs": 0, "empty_blobs": 0, "events": 0,
             "gz_bytes": 0, "json_bytes": 0}
    sizes = blob_sizes(blobs_per_stream, mean_events)
    n_hot = round(blobs_per_stream * HOT_SHARE)
    for s in range(streams):
        n_interfaces, n_hosts = ENTROPY_LEVELS[s % len(ENTROPY_LEVELS)]
        order = rng.sample(sizes, len(sizes))
        hot = set(rng.sample(range(blobs_per_stream), n_hot))
        for b, n in enumerate(order):
            shard = 0 if b in hot else rng.randrange(1, shards)
            ts_ms = (t0 + stats["blobs"]) * 1000
            if n is None:
                env = _control_envelope(ts_ms)
                stats["control_blobs"] += 1
            else:
                stats["empty_blobs"] += n == 0
                events = []
                for e in range(n):
                    row = _flow_row(rng, n_interfaces, n_hosts, rng.choice(accounts),
                                    t0 + stats["events"] + e)
                    events.append({
                        "id": f"{s:02d}{b:06d}{e:05d}",
                        "timestamp": ts_ms + e,
                        "message": " ".join(row[k] for k in FIELD_NAMES),
                        "extractedFields": row,
                    })
                stats["events"] += n
                env = {
                    "messageType": "DATA_MESSAGE",
                    "owner": accounts[0],
                    "logGroup": "vpc-flow-logs",
                    "logStream": f"eni-stream-{s:02d}-{shard:02d}",
                    "subscriptionFilters": ["bench"],
                    "logEvents": events,
                }
            raw = json.dumps(env).encode()
            blob = gzip.compress(raw, compresslevel=6, mtime=0)
            d = os.path.join(root, f"s{s:02d}", f"shard-{shard:02d}")
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{b:06d}.gz"), "wb") as f:
                f.write(blob)
            stats["blobs"] += 1
            stats["gz_bytes"] += len(blob)
            stats["json_bytes"] += len(raw)
    return {
        "seed": seed, "streams": streams, "shards": shards,
        "blobs_per_stream": blobs_per_stream, "mean_events": mean_events,
        "pareto_alpha": PARETO_ALPHA, "control_share": CONTROL_SHARE,
        "empty_share": EMPTY_SHARE, "hot_share": HOT_SHARE,
        "control_share_written": stats["control_blobs"] / stats["blobs"],
        "empty_share_written": stats["empty_blobs"] / stats["blobs"],
        "entropy_levels": ENTROPY_LEVELS, "max_events_per_blob": max(x or 0 for x in sizes),
        **stats,
    }


def cached(cache_dir: str, seed: int, **size) -> tuple[str, dict]:
    """``(root, manifest)`` of the corpus for (seed, size), written on first use."""
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    root = os.path.join(cache_dir, f"cwl-v{GENERATOR_VERSION}-seed{seed}-{key}")
    return root, harness.cached(root, lambda d: generate(d, seed, **size))


def blob_paths(root: str) -> list[str]:
    """Every blob under ``root``, in (stream, shard, sequence) order."""
    out = []
    for dirpath, _, files in os.walk(root):
        out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".gz"))
    return sorted(out)


def reference_rows(paths: list[str]) -> list[dict]:
    """The reference's own per-record loop, single thread: gunzip ->
    json -> drop CONTROL_MESSAGE -> flatten logEvents -> extractedFields."""
    rows = []
    for p in paths:
        with open(p, "rb") as f:
            env = json.loads(gzip.decompress(f.read()).decode("utf-8"))
        if env["messageType"] != "DATA_MESSAGE":
            continue
        for event in env["logEvents"]:
            rows.append(event["extractedFields"])
    return rows


def typed(row: dict) -> tuple:
    """A reference row cast to the typed flow-log schema, in FIELD_NAMES order."""
    return tuple(None if row.get(k) is None else cast(row[k]) for k, cast in FLOW_FIELDS)

