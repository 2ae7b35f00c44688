"""Pure measurement helpers: order statistics, storage accounting and
process memory.  Nothing here imports Spark, so the harness self-tests run
without a JVM."""

from __future__ import annotations

import json
import os
import statistics

import pyarrow.parquet as pq

TAIL_BEYOND = 10
STATUS_DELETED = 2     # manifest entry status of a removed file


def median(values: list) -> float:
    return float(statistics.median(values))


def tail(values: list, beyond: int = TAIL_BEYOND) -> tuple:
    """The highest nearest-rank percentile with at least ``beyond`` samples
    above it: returns ``(value, percentile, samples_beyond)``.

    Nearest-rank percentile ``p`` of ``n`` sorted samples is the sample at
    rank ``ceil(p * n / 100)``; ``n - rank`` samples lie beyond it, so the
    highest admissible rank is ``n - beyond``."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples leave no percentile with "
                         f"{beyond} samples beyond it")
    rank = n - beyond
    return float(sorted(values)[rank - 1]), 100.0 * rank / n, n - rank


def iqr_share(values: list) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def rank_in_class(samples: list, value: float) -> tuple:
    """For ``samples`` of ``(op_class, seconds)``, name the class of the
    sample at ``value`` and the share of that class's samples below it.
    A share near 0 or 1 means the percentile sits on a boundary between
    classes, where a small shift in one class moves it a long way."""
    at = min(samples, key=lambda s: abs(s[1] - value))[0]
    own = [s for c, s in samples if c == at]
    return at, sum(1 for s in own if s < value) / len(own)


def _walk(root: str):
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            yield p, os.path.getsize(p)


def storage(location: str, referenced: set, live_data_bytes: int) -> dict:
    """Bytes under a table location, split into the ``data/`` tree and the
    rest (metadata, stats stores), with ``space_amp`` = all bytes per byte
    of live data and ``orphan_files`` = files under ``data/`` that no live
    snapshot references.  Hidden files (``.``/``_`` prefix: checksums,
    commit markers) count as bytes but never as orphans.  ``referenced``
    holds absolute file paths."""
    data_dir = os.path.join(location, "data")
    data_bytes = meta_bytes = orphans = 0
    for path, size in _walk(location):
        if path.startswith(data_dir + os.sep):
            data_bytes += size
            if path not in referenced and \
                    not os.path.basename(path).startswith((".", "_")):
                orphans += 1
        else:
            meta_bytes += size
    return {"data_bytes": data_bytes, "metadata_bytes": meta_bytes,
            "orphan_files": orphans,
            "space_amp": (data_bytes + meta_bytes) / live_data_bytes}


def tables_storage(locations: list) -> dict:
    """:func:`storage` summed over several tables: ``space_amp`` and the
    ``storage.*`` layer metrics."""
    tot = {"data_bytes": 0, "metadata_bytes": 0, "orphan_files": 0}
    live = 0
    for loc in locations:
        files = table_files(loc)
        live_t = live_data_bytes(files)
        s = storage(loc, files["referenced"], live_t)
        live += live_t
        for k in tot:
            tot[k] += s[k]
    return {"space_amp": (tot["data_bytes"] + tot["metadata_bytes"]) / live,
            **{f"storage.{k}": v for k, v in tot.items()}}


def vmhwm_mb(pid="self") -> float:
    """Peak resident set size (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def table_files(location: str) -> dict:
    """What a table's own metadata files say, read without the engine:
    the size of the current metadata JSON, the count and bytes of the
    manifests the current snapshot lists, the live files of the current
    snapshot (``path -> (bytes, content)``, content 0 = data) and every
    data or delete file that any snapshot still in the metadata references."""
    mdir = os.path.join(location, "metadata")
    versions = [f for f in os.listdir(mdir)
                if f.startswith("v") and f.endswith(".metadata.json")]
    current = max(versions, key=lambda f: int(f[1:-len(".metadata.json")]))
    path = os.path.join(mdir, current)
    with open(path) as fh:
        md = json.load(fh)
    out = {"json_bytes": os.path.getsize(path), "manifests": 0,
           "manifest_bytes": 0, "live": {}, "referenced": set()}
    entries: dict = {}

    def read(manifest):
        if manifest not in entries:
            entries[manifest] = pq.read_table(
                os.path.join(mdir, manifest),
                columns=["status", "content", "file_path",
                         "file_size_in_bytes"]).to_pylist()
        return entries[manifest]

    for snap in md.get("snapshots", []):
        manifests = pq.read_table(os.path.join(mdir, snap["manifest-list"]),
                                  columns=["manifest_path"]) \
            .column("manifest_path").to_pylist()
        is_current = snap["snapshot-id"] == md.get("current-snapshot-id")
        for m in manifests:
            live = [e for e in read(m) if e["status"] != STATUS_DELETED]
            out["referenced"].update(e["file_path"] for e in live)
            if is_current:
                out["manifests"] += 1
                out["manifest_bytes"] += os.path.getsize(os.path.join(mdir, m))
                out["live"].update((e["file_path"], (e["file_size_in_bytes"],
                                                      e["content"]))
                                   for e in live)
    return out


def live_data_bytes(files: dict) -> int:
    return sum(size for size, content in files["live"].values()
               if content == 0)
