"""Seeded input generators and their ground truth.

Every generator writes only files under the directory it is given and
returns the ground truth as a plain dict, which is also written beside the
inputs as ``truth.json``. The program under test receives only the files;
the truth is what the checks in ``workloads.py`` compare against.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from datetime import datetime, timedelta

import pandas as pd

T0 = datetime(2024, 1, 1)
NAME_FMT = "%m-%d-%Y %H_%M_%S"  # the engine's default filename time format
SLICE_HEADER = "Time;Temperature;Pressure"


def _slice_name(idx: int, start: datetime, end: datetime) -> str:
    return f"slice_{idx:05d} {start.strftime(NAME_FMT)} - {end.strftime(NAME_FMT)}.csv"


def _write_slice(path: str, rows: list[tuple[datetime, float, float]], fmt: str) -> int:
    lines = [SLICE_HEADER]
    lines += [f"{t.strftime(fmt)};{a:.3f};{b:.2f}" for t, a, b in rows]
    data = "\n".join(lines) + "\n"
    with open(path, "w", encoding="utf-8") as f:
        f.write(data)
    return len(data)


def _values(rng: random.Random) -> tuple[float, float]:
    return round(rng.uniform(-10.0, 30.0), 3), round(rng.uniform(950.0, 1050.0), 2)


def _dump(out_dir: str, truth: dict) -> dict:
    with open(os.path.join(out_dir, "truth.json"), "w", encoding="utf-8") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


def hourly_slices(out_dir: str, seed: int, n_slices: int, decoys: bool) -> dict:
    """``n_slices`` contiguous one-hour slices of one row per minute.

    With ``decoys`` the seed plants, at random positions after the first
    file (the first file is the header contract): a non-CSV file, an empty
    CSV, a wrong header, an unparseable name and one overlapping pair (an
    extra slice re-delivering half of an hour that is already loaded).
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    files: list[str] = []
    minutes: list[datetime] = []  # every row timestamp that should load
    n_bytes = 0
    for i in range(n_slices):
        start = T0 + timedelta(hours=i)
        rows = [(start + timedelta(minutes=m), *_values(rng)) for m in range(60)]
        name = _slice_name(i, start, start + timedelta(hours=1))
        n_bytes += _write_slice(os.path.join(out_dir, name), rows, "%d/%m/%Y %H:%M")
        files.append(name)
        minutes += [r[0] for r in rows]
    truth = {
        "files": sorted(files),
        "kept_rows": len(minutes),
        "discovered": len(files),
        "rejected": {},
        "ledger": {},
        "input_bytes": n_bytes,
        "first": T0.isoformat(),
        "last": max(minutes).isoformat(),
    }
    if not decoys:
        return _dump(out_dir, truth)

    pos = rng.sample(range(1, n_slices), 4)
    # Non-CSV: the *.csv glob never lists it, so it is neither discovered
    # nor recorded anywhere.
    with open(os.path.join(out_dir, "notes.txt"), "w", encoding="utf-8") as f:
        f.write("not a slice\n")
    # Empty CSV with a valid name: discovered, rejected by discovery.
    s = T0 + timedelta(hours=pos[0], minutes=30)
    empty = "slicee" + _slice_name(pos[0], s, s + timedelta(minutes=1))[5:]
    open(os.path.join(out_dir, empty), "w").close()
    truth["rejected"][empty] = "empty_file"
    # Wrong header: discovered, named correctly, rejected by the header
    # contract (ERROR schema_congruence).
    s = T0 + timedelta(hours=n_slices + 10)
    bad_hdr = "slicew" + _slice_name(pos[1], s, s + timedelta(hours=1))[5:]
    with open(os.path.join(out_dir, bad_hdr), "w", encoding="utf-8") as f:
        f.write("Time;Temp;Humidity\n01/01/2030 00:00;1.0;2.0\n")
    truth["rejected"][bad_hdr] = "schema_congruence"
    truth["ledger"]["ERROR"] = truth["ledger"].get("ERROR", 0) + 1
    # Unparseable name: discovered, metadata extraction fails (WARNING),
    # excluded from the load.
    bad_name = f"slice_{pos[2]:05d} garbled-name.csv"
    _write_slice(
        os.path.join(out_dir, bad_name),
        [(T0 + timedelta(days=400, minutes=m), 1.0, 1.0) for m in range(5)],
        "%d/%m/%Y %H:%M",
    )
    truth["rejected"][bad_name] = "metadata_extraction_failed"
    truth["ledger"]["WARNING"] = truth["ledger"].get("WARNING", 0) + 1
    # Overlapping pair: an extra half-hour slice inside hour pos[3], which
    # overlaps that hour's slice only. LENIENT validation flags the
    # overlap (ERROR sequence_validation) but still loads the file.
    s = T0 + timedelta(hours=pos[3], minutes=15)
    rows = [(s + timedelta(minutes=m), *_values(rng)) for m in range(30)]
    over = "slicep" + _slice_name(pos[3], s, s + timedelta(minutes=30))[5:]
    n_bytes += _write_slice(os.path.join(out_dir, over), rows, "%d/%m/%Y %H:%M")
    truth["ledger"]["ERROR"] = truth["ledger"].get("ERROR", 0) + 1
    truth["kept_rows"] += len(rows)
    truth["files"] = sorted(files + [over])
    truth["discovered"] = len(files) + 4  # + empty, wrong header, bad name, overlap
    truth["input_bytes"] = n_bytes
    return _dump(out_dir, truth)


def second_slices(out_dir: str, seed: int, n_slices: int, drop_frac: float,
                  outages_s: tuple[int, ...]) -> dict:
    """``n_slices`` contiguous one-hour slices at a 1 s cadence with one
    planted outage per entry of ``outages_s`` (its length in seconds, each
    in its own stretch of the series) and ``drop_frac`` of the remaining
    rows dropped at random. The seed moves the outages and the drops, never
    the row count. Returns the exact continuity truth and a pandas 10 s
    mean resample of one slice file."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_sec = n_slices * 3600
    keep = [True] * n_sec
    stretch = n_sec // len(outages_s)
    for j, length in enumerate(outages_s):
        at = j * stretch + rng.randint(60, stretch - length - 60)
        keep[at:at + length] = [False] * length
    inner = [k for k in range(1, n_sec - 1) if keep[k]]
    for k in rng.sample(inner, round(drop_frac * len(inner))):
        keep[k] = False
    kept = [k for k in range(n_sec) if keep[k]]
    diffs = [b - a for a, b in zip(kept, kept[1:])]
    gaps = [d for d in diffs if d > 1]
    values = {k: round(rng.uniform(-10.0, 30.0), 3) for k in kept}
    n_bytes = 0
    for i in range(n_slices):
        start = T0 + timedelta(hours=i)
        rows = [
            (T0 + timedelta(seconds=k), values[k], 1000.0)
            for k in kept
            if i * 3600 <= k < (i + 1) * 3600
        ]
        name = _slice_name(i, start, start + timedelta(hours=1))
        n_bytes += _write_slice(os.path.join(out_dir, name), rows, "%d/%m/%Y %H:%M:%S")
    check_slice = rng.randrange(n_slices)
    start = T0 + timedelta(hours=check_slice)
    name = _slice_name(check_slice, start, start + timedelta(hours=1))
    pdf = pd.read_csv(os.path.join(out_dir, name), sep=";")
    pdf["Time"] = pd.to_datetime(pdf["Time"], format="%d/%m/%Y %H:%M:%S")
    means = pdf.set_index("Time")["Temperature"].resample("10s").mean().dropna()
    return _dump(out_dir, {
        "kept_rows": len(kept),
        "input_bytes": n_bytes,
        "n_gaps": len(gaps),
        "gap_seconds_total": float(sum(gaps)),
        "frequency_seconds": 1.0,
        "grid_length": len({k // 10 for k in kept}),
        "check_slice_start": start.isoformat(),
        "check_slice_means": {t.isoformat(): float(v) for t, v in means.items()},
    })


def stream_batches(out_dir: str, seed: int, n_batches: int, files_per_batch: int,
                   window_s: int, watermark_s: int) -> dict:
    """The hourly-slice shape split into ``n_batches`` staging directories
    ``batch_000`` … of ``files_per_batch`` files each, delivered in time
    order. The truth is a batch groupBy of every row into ``window_s``
    tumbling windows, cut where append mode cuts: a window is emitted once
    its end is at or below max(event time) - ``watermark_s``."""
    n = n_batches * files_per_batch
    all_dir = os.path.join(out_dir, "all")
    truth = hourly_slices(all_dir, seed, n, decoys=False)
    rows: dict[int, list[float]] = {}
    for b in range(n_batches):
        bdir = os.path.join(out_dir, f"batch_{b:03d}")
        os.makedirs(bdir)
        for name in truth["files"][b * files_per_batch:(b + 1) * files_per_batch]:
            os.rename(os.path.join(all_dir, name), os.path.join(bdir, name))
            with open(os.path.join(bdir, name), encoding="utf-8") as f:
                next(f)
                for line in f:
                    t, a, _ = line.rstrip("\n").split(";")
                    sec = int((datetime.strptime(t, "%d/%m/%Y %H:%M") - T0).total_seconds())
                    rows.setdefault(sec // window_s * window_s, []).append(float(a))
    last = int((datetime.fromisoformat(truth["last"]) - T0).total_seconds())
    cut = last - watermark_s
    windows = {
        (T0 + timedelta(seconds=w)).isoformat(): [len(v), sum(v) / len(v)]
        for w, v in sorted(rows.items())
        if w + window_s <= cut
    }
    truth.update({"windows": windows, "n_batches": n_batches,
                  "files_per_batch": files_per_batch})
    shutil.rmtree(all_dir)  # only truth.json is left
    return _dump(out_dir, truth)


WORDS = (
    "the of and to with that have be data spark stream window query table "
    "value group order filter scan hash join merge sort batch column row key "
    "vector line part small big fast slow"
).split()


def corpus(out_dir: str, seed: int, n_docs: int, n_exact: int, n_near: int) -> dict:
    """``n_docs`` documents of 8 to 90 words from a small vocabulary, the
    shape of the engine's reference corpus, plus ``n_exact`` exact copies
    and ``n_near`` near copies of randomly chosen long documents. Copies
    take ids above every original, so the min-id representative of each
    duplicate group is the original and every planted id must be dropped.
    A near copy replaces the last word, which changes one of its word
    3-grams (Jaccard at least 0.96 for documents of 60+ words)."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts = [" ".join(rng.choices(WORDS, k=rng.randint(8, 90))) for _ in range(n_docs)]
    long_ids = [i for i, t in enumerate(texts) if len(t.split()) >= 60]
    sources = rng.sample(long_ids, n_exact + n_near)
    planted_exact, planted_near = [], []
    for j, src in enumerate(sources):
        words = texts[src].split()
        if j >= n_exact:
            words[-1] = rng.choice([w for w in WORDS if w != words[-1]])
            planted_near.append(len(texts))
        else:
            planted_exact.append(len(texts))
        texts.append(" ".join(words))
    df = pd.DataFrame({
        "doc_id": range(len(texts)),
        "text": texts,
        "source": [f"src{i % 7}" for i in range(len(texts))],
    })
    path = os.path.join(out_dir, "documents.parquet")
    df.to_parquet(path, index=False)
    return _dump(out_dir, {
        "path": path,
        "n_docs": len(texts),
        "input_bytes": os.path.getsize(path),
        "planted_exact": planted_exact,
        "planted_near": planted_near,
        "originals": sources,
    })
