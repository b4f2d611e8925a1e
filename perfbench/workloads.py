"""Workload definitions and their seeded input generators.

Each workload is a train table plus an apply table, generated with
numpy from one ``--seed`` and written to parquet. The selector only
ever sees DataFrames read back from that parquet. Every generator
plants features whose selection the correctness gate can check:

* ``dense-redundancy``: one class-informative feature and an exact
  duplicate of it. Both must rank in the std selection (they carry the
  same relevance); the redundancy selection must keep the first and
  drop the duplicate.
* ``discrete-manybatch``: two integer-coded features that copy the
  label most of the time; both must rank in the std selection.
* ``sparse-wide``: one marker feature per class, active mostly in rows
  of that class; every marker must rank in the std selection.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    train_rows: int
    apply_rows: int
    width: int
    classes: int
    kind: str  # "dense" | "discrete" | "sparse"
    params: dict = field(default_factory=dict)
    #: timed transforms of the apply table per run: a dense transform
    #: takes ~0.1 s and its first few run slower than the rest, so dense
    #: workloads time more of them than the ~0.3 s sparse one
    transforms: int = 16
    nnz_per_row: int = 0  # sparse only: nonzeros besides the class marker
    vocab: int = 0  # sparse only: distinct active features

    @property
    def batches(self) -> int:
        return max(1, int(1.0 / self.params["batchSize"]))

    @property
    def k(self) -> int:
        return self.params["numNeighbors"] * self.classes


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="dense-redundancy",
            why="dense input, planted duplicate, redundancy on: joint "
            "counting is the fit's largest layer (28-32% of the traced fit; "
            "with MI redundancy 41-46%)",
            train_rows=2000,
            apply_rows=30_000,
            transforms=32,
            width=64,
            classes=4,
            kind="dense",
            params=dict(
                numTopFeatures=2, lowerFeatureThreshold=8.0, numNeighbors=5,
                estimationRatio=0.5, samplingMode="hash", batchSize=0.5,
                batching="hash", redundancyRemoval=True,
                knnStrategy="numpy-gemm",
            ),
        ),
        Workload(
            name="discrete-manybatch",
            why="many small hash batches of discrete data: no joint "
            "counting; the driver gap is ~half the fit, kNN its largest layer",
            train_rows=1000,
            apply_rows=50_000,
            transforms=32,
            width=32,
            classes=2,
            kind="discrete",
            params=dict(
                numTopFeatures=10, numNeighbors=5, discreteData=True,
                estimationRatio=1.0, batchSize=0.16, batching="hash",
                redundancyRemoval=False, knnStrategy="numpy",
            ),
        ),
        Workload(
            name="sparse-wide",
            why="SparseVector input past 2^18 wide: relief_sparse kNN and "
            "pair table take 50-54% of the traced fit, then the COO finalize; "
            "the transform densifies every row",
            train_rows=1000,
            apply_rows=250,
            width=1 << 19,
            classes=2,
            kind="sparse",
            nnz_per_row=8,
            vocab=1500,
            params=dict(
                numTopFeatures=10, numNeighbors=5, batchSize=0.5,
                redundancyRemoval=True, estimationRatio=1.0,
                # rows touch a narrow vocabulary strided over a huge
                # width: the case the grid route is documented for
                sparseKnnProbe="grid",
            ),
        ),
    )
}


@dataclass
class Tables:
    """One table in numpy form. ``dense`` holds the full matrix for the
    dense kinds; the sparse kind keeps per-row (indices, values)."""

    labels: np.ndarray
    dense: np.ndarray | None = None
    indices: list[np.ndarray] | None = None
    values: list[np.ndarray] | None = None

    @property
    def rows(self) -> int:
        return len(self.labels)

    def row_dense(self, i: int, width: int) -> np.ndarray:
        if self.dense is not None:
            return self.dense[i]
        out = np.zeros(width)
        out[self.indices[i]] = self.values[i]
        return out


@dataclass
class Inputs:
    train: Tables
    apply: Tables
    informative: list[int]  # must all be in the std selection
    duplicate: int | None  # must be absent from the redundancy selection


def generate(w: Workload, seed: int) -> Inputs:
    """Deterministic in (workload, seed): the same seed gives the same
    tables and the same planted feature indices."""
    rng = np.random.default_rng([seed, _stable_id(w.name)])
    if w.kind == "sparse":
        return _sparse(w, rng)
    planted = [int(f) for f in rng.choice(w.width, size=2, replace=False)]
    n = w.train_rows + w.apply_rows
    labels = rng.integers(0, w.classes, size=n).astype(np.float64)
    if w.kind == "dense":
        x = rng.standard_normal((n, w.width))
        inf, dup = sorted(planted)  # ties rank the lower index first
        x[:, inf] = 2.0 * labels + 0.5 * rng.standard_normal(n)
        x[:, dup] = x[:, inf]
        x = (x - x.mean(axis=0)) / x.std(axis=0)
        informative, duplicate = [inf, dup], dup
    else:
        x = rng.integers(0, 5, size=(n, w.width)).astype(np.float64)
        for f in planted:
            keep = rng.random(n) < 0.85
            x[:, f] = np.where(keep, labels, rng.integers(0, w.classes, size=n))
        informative, duplicate = planted, None
    split = w.train_rows
    return Inputs(
        Tables(labels[:split], dense=x[:split]),
        Tables(labels[split:], dense=x[split:]),
        sorted(informative),
        duplicate,
    )


def _sparse(w: Workload, rng: np.random.Generator) -> Inputs:
    # kddb-like: a Zipf-skewed vocabulary scattered over the declared
    # width, so rows share features and the inverted-index kNN has work.
    cols = rng.choice(w.width, size=w.vocab + w.classes, replace=False)
    markers, vocab = cols[: w.classes], cols[w.classes:]
    p = 1.0 / np.arange(1, w.vocab + 1) ** 0.8
    p /= p.sum()

    def table(n: int) -> Tables:
        labels = rng.integers(0, w.classes, size=n)
        idx, vals = [], []
        for lbl in labels:
            f = set(rng.choice(vocab, size=w.nnz_per_row, replace=False, p=p))
            if rng.random() < 0.8:
                f.add(markers[lbl])
            ordered = np.array(sorted(f), dtype=np.int64)
            idx.append(ordered)
            vals.append(np.ones(len(ordered)))
        return Tables(labels.astype(np.float64), indices=idx, values=vals)

    train = table(w.train_rows)
    return Inputs(train, table(w.apply_rows), sorted(int(m) for m in markers), None)


def _stable_id(name: str) -> int:
    # hash() is salted per process; the seed must not be.
    return int.from_bytes(name.encode()[:8].ljust(8, b"\0"), "little")


def properties(w: Workload, inputs: Inputs) -> dict:
    """Input properties printed beside each workload's metrics."""
    tr = inputs.train
    if tr.dense is not None:
        nnz = float(np.count_nonzero(tr.dense) / tr.rows)
    else:
        nnz = float(np.mean([len(i) for i in tr.indices]))
    return {
        "rows": tr.rows,
        "declared_width": w.width,
        "nonzeros_per_row": round(nnz, 3),
        "classes": w.classes,
        "batches": w.batches,
        "k": w.k,
        "apply_rows": inputs.apply.rows,
        "informative": inputs.informative,
        "duplicate": inputs.duplicate,
    }
