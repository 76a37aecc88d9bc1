"""Output checks, each against a computation made apart from the program.

* filter   — keep/drop, ``drop_reason`` and ``caption_scrubbed`` against the
  row-at-a-time oracle ``graft.reference_impl.reference_labels`` on a fixed
  sample; manifest and ``image_id`` accounting over every row; rows whose
  image stream is cut short must be dropped.  Truncation is read from the
  container framing, not from the program's decoders.
* near-dup layers (traced filter run) — the pair count and the connected
  components against a union-find over pairs found here with numpy (own
  banding, own popcount).
* validate — ``column_stats`` against the generator's ledger of injected
  faults; corrected dates against the original date wherever the date was
  written in the second (ISO) format.

Each check returns a list of problems; an empty list means the output is
right.  Nothing is compared to a stored copy of earlier output.
"""

from __future__ import annotations

import csv
import glob
import json
import os
from pathlib import Path

import numpy as np

# ---------------------------------------------------------------------------
# filter
# ---------------------------------------------------------------------------

SAMPLE_PER_PARTITION = 40


def _stream_complete(data: bytes) -> bool:
    """Whether an image stream is whole, judged by its container framing
    only: PNG ends in an IEND chunk, JPEG in an EOI marker, and a RIFF
    file is as long as its header says."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return data[-8:-4] == b"IEND"
    if data[:2] == b"\xff\xd8":
        return data[-2:] == b"\xff\xd9"
    if data[:4] == b"RIFF":
        return int.from_bytes(data[4:8], "little") + 8 == len(data)
    return False


def read_filter_input(corpus: Path):
    import pandas as pd
    import pyarrow.parquet as pq

    parts = []
    for d in sorted(corpus.glob("part=*"), key=lambda p: int(p.name[5:])):
        pdf = pq.read_table(str(d)).to_pandas()
        pdf["part"] = int(d.name[5:])
        parts.append(pdf)
    return pd.concat(parts, ignore_index=True)


class FilterTruth:
    """What every correct filter output must agree with, computed once per
    run from the input corpus."""

    def __init__(self, corpus: Path):
        from dataqualitycontroltool_spark.graft.reference_impl import reference_labels
        from dataqualitycontroltool_spark.graft.rules import KeepDropConfig

        pdf = read_filter_input(corpus)
        self.n_rows = len(pdf)
        self.ids = set(pdf["image_id"])
        self.partitions = sorted(set(pdf["part"]))
        # Rows with an Italian caption are not held to be dropped: the
        # program's trigram langid calls some of them Spanish, an allowed
        # language, and keeps them (README, "Faults found").
        truncated = ~pdf["bytes"].map(lambda b: _stream_complete(bytes(b)))
        self.must_drop = set(pdf.loc[truncated, "image_id"])
        # exact-phash duplicates over the WHOLE corpus: the keeper is the
        # least image_id of its phash; "duplicate" is the last rule in
        # RULE_ORDER, so it applies only where the oracle finds no reason
        keeper = pdf.groupby("phash")["image_id"].transform("min")
        pdf["_dup"] = pdf["image_id"] != keeper
        sample = pdf.groupby("part", group_keys=False).head(SAMPLE_PER_PARTITION)
        self.sample = sample
        oracle = reference_labels(sample, KeepDropConfig(dedupe_on=""))
        oracle["drop_reason"] = np.where(
            oracle["drop_reason"].isna() & sample["_dup"].to_numpy(),
            "duplicate", oracle["drop_reason"].astype(object),
        )
        oracle["keep"] = oracle["drop_reason"].isna()
        self.oracle = oracle.set_index("image_id")

    def check(self, out: Path) -> list[str]:
        import pandas as pd
        import pyarrow.parquet as pq

        problems = []
        manifest = {}
        for f in glob.glob(str(out / "_manifest" / "part-*.json")):
            row = json.loads(Path(f).read_text())
            manifest[int(row["part"])] = row
        if sorted(manifest) != self.partitions:
            problems.append(f"manifest partitions {sorted(manifest)} != {self.partitions}")
        rows_in = sum(r["rows_in"] for r in manifest.values())
        if rows_in != self.n_rows:
            problems.append(f"manifest rows_in {rows_in} != {self.n_rows}")
        got = pd.concat(
            [pq.read_table(str(out / f"part={p}"),
                           columns=["image_id", "keep", "drop_reason", "caption_scrubbed"]
                           ).to_pandas() for p in self.partitions if (out / f"part={p}").is_dir()],
            ignore_index=True,
        )
        if got["image_id"].duplicated().any():
            problems.append("an image_id appears more than once")
        if set(got["image_id"]) != self.ids:
            problems.append("output image_ids differ from the input")
        kept_bad = set(got.loc[got["keep"], "image_id"]) & self.must_drop
        if kept_bad:
            problems.append(f"{len(kept_bad)} truncated rows kept")
        got = got.set_index("image_id")
        s = got.loc[got.index.intersection(self.oracle.index)]
        exp = self.oracle.loc[s.index]
        if len(s) != len(self.oracle):
            problems.append("sample rows missing from the output")
            return problems
        f1 = _keep_f1(exp["keep"].astype(bool), s["keep"].astype(bool))
        if f1 < 0.99:
            problems.append(f"keep F1 {f1:.4f} < 0.99")
        reason_ok = (exp["drop_reason"].fillna("") == s["drop_reason"].fillna("")).mean()
        if reason_ok < 0.99:
            problems.append(f"drop_reason agrees on {reason_ok:.3f} of the sample")
        cap_diff = (exp["caption_scrubbed"].fillna("\0") != s["caption_scrubbed"].fillna("\0")).sum()
        if cap_diff:
            problems.append(f"{cap_diff} scrubbed captions differ from the oracle")
        return problems


def _keep_f1(expected, actual) -> float:
    tp = int((expected & actual).sum())
    fp = int((~expected & actual).sum())
    fn = int((expected & ~actual).sum())
    return 2 * tp / (2 * tp + fp + fn) if tp else 0.0


# ---------------------------------------------------------------------------
# near-duplicate pairs
# ---------------------------------------------------------------------------

_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def _popcount(x: np.ndarray) -> np.ndarray:
    return _POP8[x.view(np.uint8)].reshape(*x.shape, 8).sum(axis=-1)


def near_pairs(values: np.ndarray, max_hamming: int = 3) -> np.ndarray:
    """All index pairs (i < j) of distinct uint64 values within
    ``max_hamming`` bits.  Eight 8-bit bands: such a pair differs in at most
    ``max_hamming`` bands, so among any ``max_hamming + 1`` bands it agrees
    on one; the low ``max_hamming + 1`` bands are used."""
    out = []
    for band in range(max_hamming + 1):
        key = (values >> np.uint64(8 * band)) & np.uint64(0xFF)
        order = np.argsort(key, kind="stable")
        bounds = np.flatnonzero(np.diff(key[order])) + 1
        for grp in np.split(order, bounds):
            if len(grp) < 2:
                continue
            v = values[grp]
            for lo in range(0, len(grp), 1024):
                blk = v[lo:lo + 1024]
                d = _popcount(blk[:, None] ^ v[None, :])
                ii, jj = np.nonzero(d <= max_hamming)
                ii = ii + lo
                keep = ii < jj
                pr = np.stack([grp[ii[keep]], grp[jj[keep]]], axis=1)
                out.append(np.sort(pr, axis=1))
    if not out:
        return np.empty((0, 2), dtype=np.int64)
    return np.unique(np.concatenate(out), axis=0)


def _union_find(n: int, pairs: np.ndarray) -> np.ndarray:
    parent = np.arange(n)

    def find(a):
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:
            parent[a], a = root, parent[a]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(i) for i in range(n)])


class PhashTruth:
    """Near-duplicate pairs and their connected components over the
    distinct phash values of a table."""

    def __init__(self, table: Path, max_hamming: int = 3):
        import pyarrow.parquet as pq

        rows = pq.read_table(str(table), columns=["phash"]).to_pandas()
        uniq = np.unique(rows["phash"].to_numpy().view(np.uint64))
        pairs = near_pairs(uniq, max_hamming)
        self.n_pairs = len(pairs)
        roots = _union_find(len(uniq), pairs)
        values = uniq.view(np.int64)
        # components with more than one value, each as a set of phash values
        comps: dict[int, set] = {}
        for v, r in zip(values.tolist(), roots.tolist()):
            comps.setdefault(r, set()).add(v)
        self.components = {frozenset(c) for c in comps.values() if len(c) > 1}

    def check_components(self, labels) -> list[str]:
        """``labels``: pandas frame (id, comp) from connected_components."""
        got: dict[int, set] = {}
        for i, c in zip(labels["id"].tolist(), labels["comp"].tolist()):
            got.setdefault(c, set()).add(i)
        found = {frozenset(c) for c in got.values()}
        if found != self.components:
            return [f"connected_components gave {len(found)} components, "
                    f"union-find {len(self.components)}; they differ"]
        if any(c != min(members) for c, members in got.items()):
            return ["a component label is not the least id of its component"]
        return []


# ---------------------------------------------------------------------------
# validate
# ---------------------------------------------------------------------------


class ValidateTruth:
    def __init__(self, ledger: dict):
        self.ledger = ledger

    def check(self, outdir: Path) -> list[str]:
        import pyarrow.parquet as pq

        problems = []
        stats = pq.read_table(str(outdir / "column_stats")).to_pandas()
        cols = {"missing": "nulls", "valid": "valid", "dtype": "dtype_violations",
                "constraint": "constraint_violations"}
        for field, counts in self.ledger["column_stats"].items():
            row = stats[stats["field"] == field]
            if len(row) != 1:
                problems.append(f"column_stats has {len(row)} rows for {field}")
                continue
            for kind, col in cols.items():
                if int(row[col].iloc[0]) != counts[kind]:
                    problems.append(f"{field}.{col} = {int(row[col].iloc[0])}, "
                                    f"ledger {counts[kind]}")
            if int(row["total_rows"].iloc[0]) != self.ledger["rows"]:
                problems.append(f"{field}.total_rows != {self.ledger['rows']}")
        corrected = {}
        n = 0
        for f in sorted(glob.glob(str(outdir / "corrected_csv" / "*.csv"))):
            with open(f, newline="", encoding="utf-8") as fh:
                for rec in csv.DictReader(fh):
                    corrected[rec["id"]] = rec["visit_date"]
                    n += 1
        if n != self.ledger["rows"] or len(corrected) != n:
            problems.append(f"corrected CSV has {n} rows, {len(corrected)} ids; "
                            f"expected {self.ledger['rows']}")
        wrong = sum(1 for i, d in self.ledger["second_format"].items() if corrected.get(i) != d)
        if wrong:
            problems.append(f"{wrong} second-format dates not corrected to the original")
        return problems


def remove(path: Path) -> None:
    import shutil

    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
