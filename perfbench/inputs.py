"""Seeded input generators for the three workloads.

Every generator is a pure function of its parameters and the seed: the same
seed writes byte-identical files.  Each also returns a ledger of what it
injected, which the checks in ``checks.py`` compare program outputs against.
Inputs are cached under the work directory, keyed on the workload, the seed,
every generator parameter and, for the filter corpus, the source of the
program modules that write it; the digest of the written files is recorded
with them so two checkouts can show they read the same bytes.
"""

from __future__ import annotations

import csv
import datetime
import hashlib
import json
import subprocess
import sys
import shutil
from pathlib import Path

import numpy as np

# Bump when a generator changes the bytes it writes for a given seed.
GENERATOR_VERSION = 1

# ---------------------------------------------------------------------------
# sizes (see README.md for the make-up of each input)
# ---------------------------------------------------------------------------

FILTER = {"partitions": 4, "rows_per_partition": 100, "w_range": [16, 96]}

# (image_id, phash, part) table for the near-duplicate layers, which the
# traced filter run times: the graft pipeline's hamming mode
# (KeepDropConfig.dedupe_hamming) runs them over the corpus phash column
PHASH = {
    "partitions": 4,
    "singletons": 12000,
    "dup_groups": 1500,          # each 2..5 rows sharing one phash
    "chains": 600,               # each 3..6 values, one bit flipped per step
    "hot_band": 8300,            # values sharing one 16-bit band key
    "hot_shared_bits": 16,
}

VALIDATE = {"rows": 6000}

FIELDS_DESCRIPTOR = {
    "fields": [
        {"name": "id", "type": "integer", "MIPType": "integer"},
        {"name": "age", "type": "integer", "MIPType": "integer",
         "constraints": {"minimum": 0, "maximum": 120}},
        {"name": "weight", "type": "number", "MIPType": "numerical",
         "constraints": {"minimum": 0, "maximum": 500}},
        {"name": "sex", "type": "string", "MIPType": "nominal",
         "constraints": {"enum": ["M", "F"]}},
        {"name": "visit_date", "type": "date", "format": "%d/%m/%Y",
         "MIPType": "date",
         "constraints": {"minimum": "01/01/1990", "maximum": "31/12/2025"}},
        {"name": "note", "type": "string", "MIPType": "text"},
    ],
    "missingValues": [""],
}
DATE_FMT = "%d/%m/%Y"
SECOND_DATE_FMT = "%Y-%m-%d"


# ---------------------------------------------------------------------------
# cache + digest
# ---------------------------------------------------------------------------


def digest_dir(path: Path) -> str:
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for f in sorted(p for p in path.rglob("*") if p.is_file()):
        rel = f.relative_to(path).as_posix()
        if rel in ("ledger.json", "DONE"):
            continue
        h.update(rel.encode() + b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


# The program's own modules that write the filter corpus (the generator and
# the encoders it calls): their source is part of that input's cache key, so
# a change to them rebuilds the corpus instead of reading an older one.
FILTER_GENERATOR_SOURCES = ("synth.py", "codecs.py", "jpeg.py", "vp8l.py")


def source_digest(names) -> str:
    graft = Path(__file__).resolve().parent.parent / "dataqualitycontroltool_spark" / "graft"
    h = hashlib.sha256()
    for name in names:
        h.update(name.encode() + b"\0" + (graft / name).read_bytes())
    return h.hexdigest()


def cached(cache_root: Path, kind: str, seed: int, params: dict, build,
           sources: str = "") -> tuple[Path, dict]:
    """Directory holding the input for (kind, seed, params, sources), built
    on a miss.  Returns (directory, ledger); the ledger carries the input
    digest."""
    key = hashlib.sha256(
        json.dumps([GENERATOR_VERSION, kind, seed, params, sources], sort_keys=True).encode()
    ).hexdigest()[:20]
    d = cache_root / f"{kind}-{key}"
    if (d / "DONE").is_file():
        return d, json.loads((d / "ledger.json").read_text())
    shutil.rmtree(d, ignore_errors=True)
    tmp = cache_root / f".{kind}-{key}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    ledger = build(tmp, seed, params)
    ledger["digest"] = digest_dir(tmp)
    (tmp / "ledger.json").write_text(json.dumps(ledger, sort_keys=True))
    (tmp / "DONE").write_text("")
    tmp.rename(d)
    return d, ledger


def _write_parquet(table, path: Path) -> None:
    import pyarrow.parquet as pq

    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path), compression="snappy")


# ---------------------------------------------------------------------------
# filter: hive-partitioned image+caption corpus, genuine bitstreams only
# ---------------------------------------------------------------------------


def _filter_partition(out: str, part: int, rows: int, seed: int, w_range) -> None:
    import pyarrow as pa

    from dataqualitycontroltool_spark.graft import synth

    pdf = synth.generate_pdf(part, rows, seed=seed, w_range=tuple(w_range),
                             real_jpeg_frac=1.0, real_webp_frac=1.0)
    pdf = pdf.drop(columns=["part"])
    pdf["bytes"] = pdf["bytes"].map(bytes)
    # one file per partition, the layout synth.write_images produces
    _write_parquet(pa.Table.from_pandas(pdf, schema=_filter_schema(),
                                        preserve_index=False),
                   Path(out) / "corpus" / f"part={part}" / "part-0.parquet")


def _filter_schema():
    import pyarrow as pa

    return pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()),
    ])


def build_filter(out: Path, seed: int, p: dict) -> dict:
    """The generator is pure Python; two child processes, each writing every
    other partition, halve its wall time."""
    procs = [
        subprocess.Popen([sys.executable, __file__, str(out), str(first), "2",
                          json.dumps(p), str(seed)])
        for first in range(min(2, p["partitions"]))
    ]
    codes = [proc.wait() for proc in procs]
    if any(codes):
        raise RuntimeError(f"filter corpus generation failed: exit codes {codes}")
    return {"rows": p["partitions"] * p["rows_per_partition"]}


# ---------------------------------------------------------------------------
# phash table: (image_id, phash, part) with singletons, exact-dup groups,
# one-bit-flip chains and one hot band
# ---------------------------------------------------------------------------

def _u64_to_i64(v: np.ndarray) -> np.ndarray:
    return v.astype(np.uint64).view(np.int64)


def _distinct_random_u64(rng: np.random.Generator, n: int, taken: set) -> list[int]:
    out = []
    while len(out) < n:
        v = int(rng.integers(0, 2**64, dtype=np.uint64))
        if v not in taken:
            taken.add(v)
            out.append(v)
    return out


def _phash_values(seed: int, p: dict) -> list[int]:
    """One phash value per row (as unsigned 64-bit ints), in row order."""
    rng = np.random.default_rng([seed, 7])
    taken: set = set()
    rows: list[int] = []
    rows += _distinct_random_u64(rng, p["singletons"], taken)
    for v in _distinct_random_u64(rng, p["dup_groups"], taken):
        rows += [v] * int(rng.integers(2, 6))
    for start in _distinct_random_u64(rng, p["chains"], taken):
        length = int(rng.integers(3, 7))
        bits = rng.choice(64, size=length - 1, replace=False)
        v = start
        for b in bits:
            v ^= 1 << int(b)
            taken.add(v)
            rows += [v] * int(rng.integers(1, 3))
        rows.append(start)
    if p["hot_band"]:
        # the top `shared` bits are one value for the whole band, so the
        # band keys covering them hold more than 8,192 entries each
        shared = p["hot_shared_bits"]
        free = 64 - shared
        top = int(rng.integers(0, 2**shared, dtype=np.uint64)) << free
        lows = _distinct_random_u64(rng, p["hot_band"], taken)
        rows += [top | (v & ((1 << free) - 1)) for v in lows]
    return rows


def _write_phash_table(out: Path, values: list[int], partitions: int, seed: int) -> dict:
    import pyarrow as pa

    rng = np.random.default_rng([seed, 11])
    n = len(values)
    order = rng.permutation(n)  # rows in random order across partitions
    ph = _u64_to_i64(np.array(values, dtype=np.uint64)[order])
    # image ids in random order too, so keepers are not the first-seen row
    ids = np.array([f"img-{k:07d}" for k in rng.permutation(n)])
    part = np.arange(n) % partitions
    for q in range(partitions):
        sel = part == q
        _write_parquet(
            pa.table({"image_id": pa.array(ids[sel]), "phash": pa.array(ph[sel])}),
            out / "table" / f"part={q}" / "part-0.parquet",
        )
    return {"rows": n}


def build_phash(out: Path, seed: int, p: dict) -> dict:
    return _write_phash_table(out, _phash_values(seed, p), p["partitions"], seed)


# ---------------------------------------------------------------------------
# validate: dirty CSV + frictionless schema + ledger of injected faults
# ---------------------------------------------------------------------------

_NOTE_WORDS = ("patient seen at clinic follow up scan ordered mild moderate "
               "severe no change improved referred stable").split()
_DAY0 = datetime.date(1990, 1, 1).toordinal()
_DAY1 = datetime.date(2025, 12, 31).toordinal()


def build_validate(out: Path, seed: int, p: dict) -> dict:
    """Each cell draws one of: valid, missing, dtype fault, constraint fault,
    with per-field rates; the ledger counts what was drawn."""
    rng = np.random.default_rng([seed, 3])
    n = p["rows"]
    counts = {f["name"]: {"missing": 0, "dtype": 0, "constraint": 0, "valid": 0}
              for f in FIELDS_DESCRIPTOR["fields"]}
    # the ISO-format dates: row id -> the date in the field's own format
    second_format: dict[str, str] = {}

    def kinds(name, p_missing, p_dtype, p_constraint):
        u = rng.random(n)
        k = np.full(n, "valid", dtype=object)
        k[u < p_missing + p_dtype + p_constraint] = "constraint"
        k[u < p_missing + p_dtype] = "dtype"
        k[u < p_missing] = "missing"
        for kind in ("missing", "dtype", "constraint", "valid"):
            counts[name][kind] = int((k == kind).sum())
        return k

    ids = np.arange(1, n + 1)
    counts["id"]["valid"] = n

    k_age = kinds("age", 0.03, 0.02, 0.02)
    age_valid = rng.integers(0, 121, n)
    age_dtype = rng.integers(0, 120, n)
    age_bad = np.where(rng.random(n) < 0.5, rng.integers(121, 1000, n), -rng.integers(1, 50, n))
    age = [
        "" if k == "missing" else
        f"{a}.5" if k == "dtype" else
        str(b) if k == "constraint" else str(v)
        for k, v, a, b in zip(k_age, age_valid, age_dtype, age_bad)
    ]

    k_w = kinds("weight", 0.04, 0.02, 0.01)
    w_valid = rng.uniform(30.0, 200.0, n)
    w_bad = rng.uniform(600.0, 900.0, n)
    weight = [
        "" if k == "missing" else
        f"approx {v:.0f}" if k == "dtype" else
        f"{b:.1f}" if k == "constraint" else f"{v:.1f}"
        for k, v, b in zip(k_w, w_valid, w_bad)
    ]

    k_sex = kinds("sex", 0.02, 0.0, 0.03)
    sex_valid = rng.choice(["M", "F"], n)
    sex_bad = rng.choice(["X", "male", "Female", "U"], n)
    sex = ["" if k == "missing" else b if k == "constraint" else v
           for k, v, b in zip(k_sex, sex_valid, sex_bad)]

    k_d = kinds("visit_date", 0.03, 0.05, 0.02)
    d_valid = rng.integers(_DAY0, _DAY1 + 1, n)
    d_bad = rng.integers(datetime.date(1950, 1, 1).toordinal(), _DAY0, n)
    visit = []
    for i, k, v, b in zip(ids, k_d, d_valid, d_bad):
        day = datetime.date.fromordinal(int(v))
        if k == "missing":
            visit.append("")
        elif k == "dtype":
            visit.append(day.strftime(SECOND_DATE_FMT))
            second_format[str(i)] = day.strftime(DATE_FMT)
        elif k == "constraint":
            visit.append(datetime.date.fromordinal(int(b)).strftime(DATE_FMT))
        else:
            visit.append(day.strftime(DATE_FMT))

    k_note = kinds("note", 0.10, 0.0, 0.0)
    n_words = rng.integers(2, 9, n)
    word_idx = rng.integers(0, len(_NOTE_WORDS), (n, 8))
    note = ["" if k == "missing" else " ".join(_NOTE_WORDS[j] for j in w[:m])
            for k, w, m in zip(k_note, word_idx, n_words)]

    with open(out / "visits.csv", "w", newline="", encoding="utf-8") as fh:
        wr = csv.writer(fh, lineterminator="\n")
        wr.writerow([f["name"] for f in FIELDS_DESCRIPTOR["fields"]])
        wr.writerows(zip(ids.tolist(), age, weight, sex, visit, note))
    (out / "schema.json").write_text(json.dumps(FIELDS_DESCRIPTOR, indent=1))
    return {"rows": n, "column_stats": counts, "second_format": second_format}


# ---------------------------------------------------------------------------


def build_all(workload: str, cache_root: Path, seed: int, traced: bool) -> dict:
    """Inputs of one workload run: {name: (directory, ledger)}."""
    cache_root.mkdir(parents=True, exist_ok=True)
    if workload == "filter":
        out = {"main": cached(cache_root, "filter", seed, FILTER, build_filter,
                              source_digest(FILTER_GENERATOR_SOURCES))}
        if traced:
            out["phash"] = cached(cache_root, "phash", seed, PHASH, build_phash)
        return out
    if workload == "validate":
        return {"main": cached(cache_root, "validate", seed, VALIDATE, build_validate)}
    raise ValueError(f"unknown workload {workload!r}")


def input_digest(inputs: dict) -> str:
    h = hashlib.sha256()
    for name in sorted(inputs):
        h.update(f"{name}:{inputs[name][1]['digest']}\n".encode())
    return h.hexdigest()


if __name__ == "__main__":
    # child process of build_filter: out_dir first_part step params seed
    _out, _first, _step, _params, _seed = sys.argv[1:]
    _p = json.loads(_params)
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    for _part in range(int(_first), _p["partitions"], int(_step)):
        _filter_partition(_out, _part, _p["rows_per_partition"], int(_seed), _p["w_range"])
