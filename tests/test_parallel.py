"""MapReduce-equivalents (M1-M5), learner (E10), listing/bulk-load (S8/S11).

Differential contract mirrors the reference's examples/test_parallel.py:
98-121 — the partitioned run must equal the direct run exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dropbox_duckdb_playground_spark.er.learner import MatchModel, train_matcher
from dropbox_duckdb_playground_spark.er.scoring import select_matches
from dropbox_duckdb_playground_spark.operators.parallel import map_partitioned
from dropbox_duckdb_playground_spark.plans.pipeline import assert_frames_equal
from dropbox_duckdb_playground_spark.sources.listing import (
    bulk_insert_command,
    name_listing_table,
    parse_name_listing,
)


def test_map_partitioned_equals_direct(spark):
    """Partitioned pandas transform ≡ direct DataFrame op (M1/V2)."""

    def double(pdf):
        pdf = pdf.copy()
        pdf["v"] = pdf["v"] * 2
        return pdf

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    parallel = map_partitioned(df, double, "k long, v long", n=7)
    direct = df.select("k", (F.col("v") * 2).alias("v"))
    assert_frames_equal(parallel, direct)


def test_learner_roundtrip_and_separation(spark):
    """Train on trivially separable pairs; matches must outscore
    non-matches and the JSON artifact must round-trip."""
    rows = []
    for i in range(40):
        rows.append((f"package-{i}", f"package-{i}", 1))  # exact
        rows.append((f"package-{i}", f"package-{i} extra", 1))  # near
        rows.append((f"package-{i}", f"totally-other-{i*7}", 0))
    pairs = spark.createDataFrame(rows, ["a_name", "b_name", "is_match"])
    model = train_matcher(pairs, ["name"])
    model2 = MatchModel.loads(model.dumps())
    assert model2.fields == ["name"] and model2.weights == model.weights

    scored = model2.scorer()(pairs)
    agg = scored.groupBy("is_match").agg(F.avg("score").alias("s")).collect()
    by = {r["is_match"]: r["s"] for r in agg}
    assert by[1] > 0.5 > by[0]
    # scorer output feeds the standard E6 tail
    kept = select_matches(
        scored.select(
            F.col("a_name").alias("a_id"), F.col("b_name").alias("b_id"), "score"
        ),
        threshold=0.5,
    )
    assert kept.count() >= 40


def test_name_listing_parse_and_table(spark):
    html = '<html><body><a href="/simple/foo/">foo</a>\n<a href="/x">bar-lib</a></body></html>'
    assert parse_name_listing(html) == ["foo", "bar-lib"]
    fake = lambda url, etag: (200, html, None)  # noqa: E731
    df = name_listing_table(spark, "http://example.invalid/simple", fetcher=fake)
    assert [r["name"] for r in df.collect()] == ["foo", "bar-lib"]


def test_bulk_insert_command_shape():
    cmd = bulk_insert_command(
        "pypi", {"package": "/tmp/package.csv"}, {"requires": "/tmp/requires.csv"},
        redis_url="redis://localhost:6379",
    )
    assert cmd[:2] == ["redisgraph-bulk-insert", "pypi"]
    assert "-n" in cmd and "/tmp/package.csv" in cmd
    assert "-r" in cmd and "/tmp/requires.csv" in cmd


def test_labeling_session_active_loop(spark):
    """E10 active-learning workflow (reference console_label, decoupled):
    uncertainty-sampled batches, programmatic labels, model that
    separates matches from distinct pairs, dedupe-shaped artifact."""
    import json

    from dropbox_duckdb_playground_spark.er.learner import LabelingSession

    rows = []
    # 20 obvious matches (identical names) + 20 obvious distincts
    for i in range(20):
        rows.append((i, 100 + i, f"package-{i}", f"package-{i}"))
        rows.append((200 + i, 300 + i, f"alpha-{i}", f"zz-{i*7}-q"))
    pairs = spark.createDataFrame(rows, ["a_id", "b_id", "a_name", "b_name"])

    sess = LabelingSession(pairs, fields=["name"], batch_size=8)
    for _ in range(3):
        batch = sess.next_batch()
        assert 0 < len(batch) <= 8
        labels = [row.a_name == row.b_name for row in batch.itertuples(index=False)]
        sess.label(batch, labels)
    assert sess.n_labeled() == 24

    # batches never repeat already-labeled pairs
    seen = {(r["a_id"], r["b_id"]) for _, r in sess.next_batch().iterrows()}
    labeled_ids = {(r["a_id"], r["b_id"]) for r in sess._labeled}
    assert not (seen & labeled_ids)

    # the trained model separates the two populations
    scored = sess.model().scorer()(pairs)
    from pyspark.sql import functions as F

    agg = scored.select(
        F.min(F.when(F.col("a_name") == F.col("b_name"), F.col("score"))).alias("min_m"),
        F.max(F.when(F.col("a_name") != F.col("b_name"), F.col("score"))).alias("max_d"),
    ).collect()[0]
    assert agg.min_m > agg.max_d

    art = json.loads(sess.training_json())
    assert len(art["match"]) + len(art["distinct"]) == 24
    assert all(p[0]["name"] == p[1]["name"] for p in art["match"])


def test_console_label_scripted_stdin(spark):
    """The reference's interactive console REPL (console_label) driven
    by scripted input: y/n labels train a separating model, 'u' skips,
    'f' finishes, and the prompt renders both sides of each field."""
    from dropbox_duckdb_playground_spark.er.learner import (
        LabelingSession,
        console_label,
    )

    rows = []
    for i in range(10):
        rows.append((i, 100 + i, f"package-{i}", f"package-{i}"))
        rows.append((200 + i, 300 + i, f"alpha-{i}", f"zz-{i * 7}-q"))
    pairs = spark.createDataFrame(rows, ["a_id", "b_id", "a_name", "b_name"])

    sess = LabelingSession(pairs, fields=["name"], batch_size=6)
    printed: list[str] = []

    def scripted(prompt_shown):
        # answer per pair from what was just printed: identical names
        # -> y, different -> n; sprinkle one unsure
        line = next(ln for ln in reversed(printed) if ln.startswith("  name:"))
        a, b = line.split("  vs  ")
        if scripted.calls == 2:
            scripted.calls += 1
            return "u"
        scripted.calls += 1
        return "y" if a.replace("  name: ", "") == b.strip() else "n"

    scripted.calls = 0
    model = console_label(
        sess, max_pairs=12, input_fn=scripted, print_fn=printed.append
    )
    assert model is not None and sess.n_labeled() >= 10

    from pyspark.sql import functions as F

    agg = model.scorer()(pairs).select(
        F.min(F.when(F.col("a_name") == F.col("b_name"), F.col("score"))).alias("m"),
        F.max(F.when(F.col("a_name") != F.col("b_name"), F.col("score"))).alias("d"),
    ).collect()[0]
    assert agg.m > agg.d

    # 'f' finishes immediately with no labels -> no model
    sess2 = LabelingSession(pairs, fields=["name"], batch_size=6)
    assert console_label(sess2, input_fn=lambda _p: "f", print_fn=lambda _s: None) is None
