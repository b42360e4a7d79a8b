"""ML residual classifier + incremental (streaming-shaped) ER ingest."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fia_own_map_spark.config import EngineConfig
from fia_own_map_spark.operators.ml import (
    predict_residual,
    preprocess_simple_owner_py,
    train_residual_classifier,
)
from fia_own_map_spark.plans.pipeline import run_pipeline
from fia_own_map_spark.sources.checkpoint import CheckpointStore
from fia_own_map_spark.streaming.ingest import IncrementalER


def test_stemmer_semantics():
    # true Porter: running -> run; faster keeps 'er' (m(fast)=1, step4 needs m>1)
    assert preprocess_simple_owner_py("Running Faster!") == "run faster"
    assert preprocess_simple_owner_py("HOLDINGS, PROPERTIES") == "hold properti"
    assert preprocess_simple_owner_py("INCORPORATED TRUSTEES") == "incorpor truste"
    assert preprocess_simple_owner_py("") == ""
    # deterministic + idempotent on already-stemmed text
    assert preprocess_simple_owner_py("hold properti") == preprocess_simple_owner_py(
        "hold properti"
    )


def test_residual_classifier_roundtrip(spark):
    # two separable classes by vocabulary
    corp_stems = ["CASCADE", "PINNACLE", "GRANITE", "SUMMIT", "HARBOR", "STERLING"]
    corp_sufs = ["TIMBER HOLDINGS", "LUMBER CO", "PROPERTIES", "INVESTMENTS"]
    given = ["JOHN", "MARY", "ROBERT", "LINDA", "JAMES", "SUSAN"]
    sur = ["SMITH", "JONES", "MILLER", "DAVIS", "WILSON", "TAYLOR"]
    rows = []
    for a in corp_stems:
        for b in corp_sufs:
            rows.append((f"{a} {b}", 41))
    for g in given:
        for s in sur:
            rows.append((f"{g} {s} FAMILY", 45))
    pdf = pd.DataFrame(rows, columns=["simple_owners", "own_type"])
    sdf = spark.createDataFrame(pdf)
    model, labels, metrics = train_residual_classifier(sdf)
    assert metrics["holdout_accuracy"] >= 0.9, metrics
    test = spark.createDataFrame(
        pd.DataFrame(
            {"simple_owners": ["PINNACLE TIMBER HOLDINGS", "MARY SMITH FAMILY"]}
        )
    )
    got = predict_residual(model, labels, test).select("own_type_pred").toPandas()
    assert got["own_type_pred"].tolist() == [41, 45]


@pytest.mark.slow
def test_incremental_ingest_matches_batch(spark, tmp_path):
    """Two micro-batches must produce the same rows as one batch run: the
    same partition, each cluster named by its min url and sized alike."""
    from fia_own_map_spark.sources.webpages import generate_web_pages

    pages, _ = generate_web_pages(n_pages=600, seed=21)
    half = len(pages) // 2
    b1, b2 = pages.iloc[:half], pages.iloc[half:]

    inc = IncrementalER(spark, str(tmp_path / "state"))
    inc.process_batch(spark.createDataFrame(b1), 0)
    cols = ["url", "cluster_id", "cluster_size"]
    labels_inc = inc.process_batch(spark.createDataFrame(b2), 1).select(*cols).toPandas()

    store = CheckpointStore(str(tmp_path / "batch"), "full")
    clusters, _ = run_pipeline(spark, spark.createDataFrame(pages), EngineConfig(), checkpoints=store)
    labels_batch = clusters.select(*cols).toPandas()

    def rows(df):
        return sorted(df.itertuples(index=False, name=None))

    assert len(labels_inc) == len(pages)
    assert rows(labels_inc) == rows(labels_batch)


def test_cascade_classify(spark):
    """M5 cascade: fast tier verifies easy rows; failures escalate to the
    medium tier (per-executor singleton), matching the reference's
    fast->medium validator flow."""
    from fia_own_map_spark.operators.ml import cascade_classify

    rows = [
        (0, "the cat and the dog is here", "en"),     # fast verifies
        (1, "der hund ist nicht der katze", "de"),    # fast verifies
        (2, "这是一个中文文档 测试文本", "zh"),          # fast fails (und) -> medium zh
        (3, "zzz qqq xxx", "en"),                     # fast und -> medium 'en' prior
        (4, "el perro y el gato en la casa", "fr"),   # both miss -> unverified
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in cascade_classify(df).collect()}
    assert out[0]["tier"] == "fast" and out[0]["verified"] and out[0]["pred"] == "en"
    assert out[1]["tier"] == "fast" and out[1]["verified"]
    assert out[2]["tier"] == "medium" and out[2]["verified"] and out[2]["pred"] == "zh"
    assert out[3]["tier"] == "medium" and out[3]["verified"] and out[3]["pred"] == "en"
    assert out[4]["tier"] == "medium" and not out[4]["verified"] and out[4]["pred"] == "es"


def test_numpy_lang_classifier_real_trained_tier():
    """The r6 medium tier is a REAL learned model (hashed char-n-gram
    softmax regression, pure numpy): training is deterministic (zero-init,
    no RNG), holdout accuracy is high, and it generalizes to words outside
    the training vocabulary via character n-grams."""
    import numpy as np

    from fia_own_map_spark.operators.ml import NumpyLangClassifier, synth_lang_corpus

    tx, lb = synth_lang_corpus(n_per_lang=150, seed=7)
    hx, hl = synth_lang_corpus(n_per_lang=60, seed=99)
    c1 = NumpyLangClassifier().fit(tx, lb)
    c2 = NumpyLangClassifier().fit(tx, lb)
    assert np.array_equal(c1.W, c2.W) and np.array_equal(c1.b, c2.b)
    acc = sum(p == y for p, y in zip(c1.predict(hx), hl)) / len(hl)
    assert acc >= 0.95
    # out-of-vocabulary content words; the function-word n-grams carry it
    assert c1.predict([
        "der hund ist nicht mit der katze",
        "the cat and the dog are here",
        "le chat est sur la table",
        "el perro y el gato en la casa",
    ]) == ["de", "en", "fr", "es"]


def test_cascade_with_numpy_medium_tier(spark):
    """cascade_classify with the real numpy model as the medium tier: rows
    the fast stopword tier gets wrong escalate and come back tier='medium'
    with the model's prediction."""
    import pandas as pd

    from fia_own_map_spark.operators.ml import MediumLangNumpy, cascade_classify

    rows = pd.DataFrame({
        "doc_id": range(4),
        "text": [
            "the cat and the dog are here",      # fast tier: en (agrees)
            "der hund ist nicht mit der katze",  # fast: de (agrees)
            "chat table maison voiture",         # fast: und -> escalates
            "perro gato casa coche",             # fast: und -> escalates
        ],
        "lang": ["en", "de", "fr", "es"],
    })
    out = cascade_classify(
        spark.createDataFrame(rows), medium_factory=MediumLangNumpy
    ).toPandas().sort_values("doc_id")
    assert list(out["tier"]) == ["fast", "fast", "medium", "medium"]
    assert list(out["pred"]) == ["en", "de", "fr", "es"]
    assert out["verified"].all()


def test_cascade_singleton_keyed_by_factory():
    """Regression: a reused python worker must not serve a model built by a
    DIFFERENT factory — the singleton cache keys on factory identity (and on
    a weights digest for shipped models)."""
    from fia_own_map_spark.operators.ml import (
        MediumLangNumpy,
        MediumLangStub,
        _factory_key,
        _singleton,
        shipped_medium_factory,
    )

    k_stub = _factory_key("cascade_medium", MediumLangStub)
    k_numpy = _factory_key("cascade_medium", MediumLangNumpy)
    assert k_stub != k_numpy
    assert type(_singleton(k_stub, MediumLangStub)) is MediumLangStub
    assert type(_singleton(k_numpy, MediumLangNumpy)) is MediumLangNumpy

    shipped = shipped_medium_factory()
    k_shipped = _factory_key("cascade_medium", shipped)
    assert k_shipped.startswith("cascade_medium:shipped:")
    assert k_shipped not in (k_stub, k_numpy)
    assert _singleton(k_shipped, shipped) is shipped  # factory returns itself


def test_cascade_with_shipped_driver_trained_model(spark):
    """Driver-trained weights shipped to workers (the ONNX-file analogue):
    no worker trains, escalated rows still come back correct."""
    import pandas as pd

    from fia_own_map_spark.operators.ml import cascade_classify, shipped_medium_factory

    rows = pd.DataFrame({
        "doc_id": range(2),
        "text": ["chat table maison voiture", "perro gato casa coche"],
        "lang": ["fr", "es"],
    })
    out = cascade_classify(
        spark.createDataFrame(rows), medium_factory=shipped_medium_factory()
    ).toPandas().sort_values("doc_id")
    assert list(out["tier"]) == ["medium", "medium"]
    assert list(out["pred"]) == ["fr", "es"]
    assert out["verified"].all()
