"""In-process fake of the boto3 Kinesis client, in the reference's test style.

It serves one corpus stream (``<root>/s<NN>/shard-<MM>/*.gz``) through the
three calls the reader's drain makes: the ``describe_stream`` paginator,
``get_shard_iterator`` (``LATEST`` or ``AT_TIMESTAMP``) and paged
``get_records`` with ``MillisBehindLatest``. It counts calls and bytes served.

Network latency and throttling are NOT modelled: every call returns at once,
so a drain measured against this fake is the reader's own driver-side cost.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

SHARDS_PER_DESCRIBE_PAGE = 2  # forces describe_stream pagination
RECORDS_PER_PAGE = 25


class _Paginator:
    def __init__(self, client: "FakeKinesisClient") -> None:
        self.client = client

    def paginate(self, StreamName: str):
        self.client.calls["describe_stream"] += 1
        ids = self.client._shard_ids(StreamName)
        for i in range(0, len(ids), SHARDS_PER_DESCRIBE_PAGE):
            chunk = ids[i:i + SHARDS_PER_DESCRIBE_PAGE]
            yield {
                "StreamDescription": {
                    "StreamName": StreamName,
                    "Shards": [{"ShardId": s} for s in chunk],
                    "HasMoreShards": i + SHARDS_PER_DESCRIBE_PAGE < len(ids),
                }
            }


class FakeKinesisClient:
    """Serves every ``s<NN>`` directory of a corpus as stream ``s<NN>``.

    Record ``i`` of a shard arrived at ``epoch + i`` seconds, so an
    ``AT_TIMESTAMP`` iterator at or before ``epoch`` reads the whole backlog
    and ``LATEST`` reads nothing that is already there.
    """

    epoch = datetime(2023, 1, 1, tzinfo=timezone.utc)

    def __init__(self, root: str) -> None:
        self.streams: dict[str, dict[str, list[bytes]]] = {}
        for stream in sorted(os.listdir(root)):
            sdir = os.path.join(root, stream)
            if not os.path.isdir(sdir):
                continue
            shards = {}
            for shard in sorted(os.listdir(sdir)):
                ddir = os.path.join(sdir, shard)
                blobs = []
                for name in sorted(os.listdir(ddir)):
                    with open(os.path.join(ddir, name), "rb") as f:
                        blobs.append(f.read())
                shards[shard] = blobs
            self.streams[stream] = shards
        self.reset_counters()

    def reset_counters(self) -> None:
        self.calls = {"describe_stream": 0, "get_shard_iterator": 0, "get_records": 0}
        self.bytes_served = 0

    def _shard_ids(self, stream: str) -> list[str]:
        return sorted(self.streams[stream])

    def get_paginator(self, name: str) -> _Paginator:
        if name != "describe_stream":
            raise ValueError(f"no fake paginator for {name}")
        return _Paginator(self)

    def get_shard_iterator(self, StreamName: str, ShardId: str, ShardIteratorType: str,
                           Timestamp: datetime | None = None, **_) -> dict:
        self.calls["get_shard_iterator"] += 1
        n = len(self.streams[StreamName][ShardId])
        if ShardIteratorType == "LATEST":
            pos = n
        elif ShardIteratorType == "AT_TIMESTAMP":
            ts = Timestamp if Timestamp.tzinfo else Timestamp.replace(tzinfo=timezone.utc)
            pos = min(n, max(0, int((ts - self.epoch).total_seconds())))
        else:
            raise ValueError(f"unsupported iterator type {ShardIteratorType}")
        return {"ShardIterator": f"{StreamName}|{ShardId}|{pos}"}

    def get_records(self, ShardIterator: str, Limit: int = RECORDS_PER_PAGE) -> dict:
        self.calls["get_records"] += 1
        stream, shard, pos = ShardIterator.split("|")
        blobs = self.streams[stream][shard]
        start = int(pos)
        end = min(len(blobs), start + Limit)
        records = [
            {"Data": b, "SequenceNumber": str(i), "PartitionKey": shard}
            for i, b in enumerate(blobs[start:end], start)
        ]
        self.bytes_served += sum(len(b) for b in blobs[start:end])
        return {
            "Records": records,
            "NextShardIterator": f"{stream}|{shard}|{end}",
            "MillisBehindLatest": (len(blobs) - end) * 1000,
        }
