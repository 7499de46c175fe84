"""ER match learner (E10) — self-contained, no interactive dependency.

The reference's ``CanonMatchLearner`` / ``MessyMatchLearner``
(reference: examples/graph/resolution/learner.py:15-119) console-label
candidate pairs, call dedupe's active learning ``train(recall=0.9)``,
and persist a training JSON + binary model that inference later loads.
That couples the pipeline to the ``dedupe`` package and a human in the
loop (SURVEY §8.5).

This learner keeps the artifact contract (labeled pairs in → persisted
weights out → scorer usable by ``er.scoring``) but is self-contained:

- features: the SAME per-field similarity expressions inference uses
  (`norm_levenshtein_sim`), so train/serve skew is structurally zero;
- model: L2-regularized logistic regression fit on the driver with
  plain numpy IRLS — labeled training sets are human-sized (the
  reference's shipped training JSON is ~100 pairs), so distributed
  training would be pure overhead. Feature *computation* stays in
  Spark (JVM expressions), only the tiny (n_pairs × n_fields) matrix
  is collected;
- artifact: JSON weights, loadable anywhere, fed to
  ``scoring.expression_scorer(fields, weights, bias)`` for fully
  JVM-side distributed inference — the model is a Column expression,
  not a broadcast pickle.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.er.scoring import (
    expression_scorer,
    norm_levenshtein_sim,
)


@dataclass
class MatchModel:
    fields: list[str]
    weights: list[float]
    bias: float

    def scorer(self):
        """Distributed scorer closure (JVM Column expressions)."""
        return expression_scorer(self.fields, self.weights, self.bias)

    def dumps(self) -> str:
        return json.dumps(
            {"fields": self.fields, "weights": self.weights, "bias": self.bias}
        )

    @staticmethod
    def loads(s: str) -> "MatchModel":
        d = json.loads(s)
        return MatchModel(d["fields"], d["weights"], d["bias"])


def train_matcher(
    labeled_pairs: DataFrame,
    fields: list[str],
    label_col: str = "is_match",
    l2: float = 1e-3,
    iters: int = 50,
) -> MatchModel:
    """Fit logistic weights on labeled pairs (1 = match, 0 = distinct).

    Feature extraction runs in Spark; the IRLS solve runs on the driver
    over the collected (n_pairs × n_fields) matrix — labeled data is
    human-curated and tiny by construction, the candidate universe never
    leaves the cluster."""
    import numpy as np

    pdf = labeled_pairs.select(
        *[
            norm_levenshtein_sim(F.col(f"a_{f}"), F.col(f"b_{f}")).alias(f"sim_{f}")
            for f in fields
        ],
        F.col(label_col).cast("double").alias("_y"),
    ).toPandas()
    x = np.column_stack(
        [pdf[f"sim_{f}"].to_numpy(dtype=float) for f in fields]
        + [np.ones(len(pdf))]
    )
    y = pdf["_y"].to_numpy(dtype=float)
    w = np.zeros(x.shape[1])
    reg = np.full(x.shape[1], l2)
    reg[-1] = 0.0  # don't regularize the bias
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-x @ w))
        grad = x.T @ (p - y) / len(y) + reg * w
        s = np.clip(p * (1 - p), 1e-6, None)
        hess = (x.T * s) @ x / len(y) + np.diag(reg)
        step = np.linalg.solve(hess, grad)
        w = w - step
        if np.abs(step).max() < 1e-8:
            break
    return MatchModel(list(fields), [float(v) for v in w[:-1]], float(w[-1]))


class LabelingSession:
    """Active-learning labeling loop (E10) — the reference's
    ``console_label(deduper)`` workflow (examples/graph/resolution/
    learner.py:40-48) with the human I/O decoupled from the pipeline:
    the caller fetches the next most-informative batch, collects labels
    through ANY UI, and feeds them back.

    Uncertainty sampling: candidates are scored with the current model
    (distributed, Column expressions) and the unlabeled pairs whose
    scores are closest to 0.5 are surfaced next — the same
    query-by-uncertainty strategy dedupe's active learner uses. Only the
    labeled pairs (human-sized by construction) ever reach the driver;
    the candidate universe stays in Spark, so the session works
    unchanged over a 100 TB pair table.

    >>> sess = LabelingSession(pairs, fields=["full_name"])
    >>> batch = sess.next_batch()          # pandas: a_id/b_id + fields
    >>> sess.label(batch, [True, False, ...])
    >>> model = sess.model()               # retrained on all labels
    """

    def __init__(
        self,
        candidate_pairs: DataFrame,
        fields: list[str],
        batch_size: int = 10,
        l2: float = 1e-3,
    ) -> None:
        self._pairs = candidate_pairs
        self._fields = list(fields)
        self._batch = batch_size
        self._l2 = l2
        self._labeled: list[dict] = []  # driver-side, human-sized
        self._model: MatchModel | None = None

    def _scorer(self):
        if self._model is not None:
            return self._model.scorer()
        return expression_scorer(self._fields)  # default weights to start

    def next_batch(self) -> "pandas.DataFrame":
        """Most-uncertain unlabeled pairs as a small pandas frame
        (columns: a_id, b_id, a_<field>, b_<field> ..., score)."""
        scored = self._scorer()(self._pairs)
        if self._labeled:
            spark = self._pairs.sparkSession
            done = spark.createDataFrame(
                [(r["a_id"], r["b_id"]) for r in self._labeled],
                ["a_id", "b_id"],
            )
            scored = scored.join(F.broadcast(done), ["a_id", "b_id"], "left_anti")
        cols = ["a_id", "b_id"] + [
            c for f in self._fields for c in (f"a_{f}", f"b_{f}")
        ]
        return (
            scored.select(*cols, "score")
            .orderBy(F.abs(F.col("score") - 0.5), "a_id", "b_id")
            .limit(self._batch)
            .toPandas()
        )

    def label(self, batch: "pandas.DataFrame", is_match: list[bool]) -> None:
        """Record human labels for a batch returned by `next_batch` and
        retrain the model on everything labeled so far."""
        if len(batch) != len(is_match):
            raise ValueError("one label per batch row required")
        for row, y in zip(batch.itertuples(index=False), is_match):
            rec = {"a_id": row.a_id, "b_id": row.b_id, "is_match": bool(y)}
            for f in self._fields:
                rec[f"a_{f}"] = getattr(row, f"a_{f}")
                rec[f"b_{f}"] = getattr(row, f"b_{f}")
            self._labeled.append(rec)
        self._retrain()

    def _retrain(self) -> None:
        ys = {r["is_match"] for r in self._labeled}
        if ys != {True, False}:
            return  # need both classes before a fit is meaningful
        spark = self._pairs.sparkSession
        labeled = spark.createDataFrame(self._labeled)
        self._model = train_matcher(
            labeled, self._fields, label_col="is_match", l2=self._l2
        )

    def model(self) -> MatchModel:
        if self._model is None:
            raise RuntimeError(
                "no model yet: label at least one match and one distinct pair"
            )
        return self._model

    def n_labeled(self) -> int:
        return len(self._labeled)

    def training_json(self) -> str:
        """dedupe-style training artifact: {'match': [...], 'distinct':
        [...]} with per-side field dicts (the reference persists exactly
        this shape next to its binary model, learner.py:49-66)."""
        out: dict[str, list] = {"match": [], "distinct": []}
        for r in self._labeled:
            pair = [
                {f: r[f"a_{f}"] for f in self._fields},
                {f: r[f"b_{f}"] for f in self._fields},
            ]
            out["match" if r["is_match"] else "distinct"].append(pair)
        return json.dumps(out)


def console_label(
    session: LabelingSession,
    max_pairs: int = 50,
    input_fn=input,
    print_fn=print,
) -> MatchModel | None:
    """The reference's interactive ``console_label(deduper)`` REPL
    (reference: examples/graph/resolution/learner.py:40-48) on top of
    :class:`LabelingSession`: show one uncertain pair at a time, read
    ``y`` (match) / ``n`` (distinct) / ``u`` (skip) / ``f`` (finish),
    retrain per batch. I/O goes through injectable ``input_fn`` /
    ``print_fn`` so the loop is testable with scripted stdin and
    embeddable in any UI; only human-sized batches ever reach the
    driver, so the same loop works over a 100 TB pair table.

    Returns the trained model, or None if labeling ended before both
    classes were seen."""
    seen = 0
    while seen < max_pairs:
        batch = session.next_batch()
        if not len(batch):
            break
        keep_rows, labels = [], []
        finished = False
        for row in batch.itertuples(index=False):
            print_fn(f"a: {row.a_id}  b: {row.b_id}")
            for f in session._fields:
                print_fn(
                    f"  {f}: {getattr(row, f'a_{f}')!r}"
                    f"  vs  {getattr(row, f'b_{f}')!r}"
                )
            ans = ""
            while ans not in ("y", "n", "u", "f"):
                ans = str(input_fn("match? (y)es / (n)o / (u)nsure / (f)inished: ")).strip().lower()
            if ans == "f":
                finished = True
                break
            if ans == "u":
                continue
            keep_rows.append(row)
            labels.append(ans == "y")
            seen += 1
        if keep_rows:
            import pandas as pd

            session.label(pd.DataFrame(keep_rows), labels)
        elif not finished:
            # an entirely-unsure batch would resurface the same pairs
            # forever — stop instead of looping
            break
        if finished:
            break
    try:
        return session.model()
    except RuntimeError:
        return None
