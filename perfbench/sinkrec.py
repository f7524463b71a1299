"""Kafka-shaped recording producer injected into `kafka_foreach_batch`.

It runs on Spark's Python workers, so it records to files: on flush, one
file per (micro-batch, partition) holding one line per produced message,
`<wall time>\t<epoch>\t<key>\t<JSON array payload>`.  `read_messages`
collects them on the driver after the run.
"""

from __future__ import annotations

import os
import time
import uuid


class RecordingProducer:
    def __init__(self, out_dir: str, epoch: int) -> None:
        self.out_dir = out_dir
        self.epoch = epoch
        self.lines: list[str] = []

    def produce(self, topic: str, value: str, key: str) -> None:
        self.lines.append(f"{time.time():.6f}\t{self.epoch}\t{key}\t{value}\n")

    def flush(self, timeout: float) -> int:
        if self.lines:
            name = f"{self.epoch:06d}-{uuid.uuid4().hex}.tsv"
            tmp = os.path.join(self.out_dir, f".{name}")
            with open(tmp, "w") as f:
                f.writelines(self.lines)
            os.replace(tmp, os.path.join(self.out_dir, name))
            self.lines = []
        return 0


class ProducerFactory:
    """Zero-argument factory shipped to the workers (pickled by reference)."""

    def __init__(self, out_dir: str, epoch: int) -> None:
        self.out_dir = out_dir
        self.epoch = epoch

    def __call__(self) -> RecordingProducer:
        return RecordingProducer(self.out_dir, self.epoch)


def read_messages(out_dir: str) -> list[tuple[float, int, str, str]]:
    """All recorded messages as (wall time, epoch, key, payload)."""
    out = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("."):
            continue
        with open(os.path.join(out_dir, name)) as f:
            for line in f:
                t, epoch, key, payload = line.rstrip("\n").split("\t", 3)
                out.append((float(t), int(epoch), key, payload))
    return out


def count_by_type(payload: str, types) -> dict[str, int]:
    """Records per event type in one packed JSON array, by substring count
    (to_json writes `"event":"<TYPE>"` once per record)."""
    return {t: payload.count(f'"event":"{t}"') for t in types}
