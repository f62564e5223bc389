"""Per-record stream enrichment + publisher-style message wrapping
(SURVEY.md T7, S16).

  * T7 — the reference enriches each tweet with a sentiment model in a
    stateless DoFn whose heavyweight model loads once per worker in
    setup() (dataflow/stream_join.py:231-346). The per-tweet score here
    is the registry's lexicon (queries/ml.py lexicon_polarity) as native
    column math: it runs in the JVM, with no Python worker, and the
    speed layer and the registry score the same text alike. The
    setup() analog — a model loaded once per executor task, then every
    Arrow batch scored vectorized — is the predict_batch_udf form
    below (enrich_with_model_score). Both work identically on batch
    and streaming DataFrames.
  * S16 — producers publish JSON payloads with event_timestamp /
    crypto_key message attributes (coincap-simulation/main.py:82-105,
    twitter_simulation/simulate_twitter_flow.py:39-60). Spark form: a
    projection to the Kafka-shaped (key, value, headers-as-map) columns
    — `to_json(struct(...))` for the payload, a map column for the
    attributes; any kafka/file sink can consume it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_with_sentiment(df: DataFrame,
                          text_col: str = "text") -> DataFrame:
    """Attach a per-record lexicon polarity (batch or streaming DF);
    NULL or empty text scores NULL (M1's empty-input rule)."""
    # not at top: queries.ml imports this module while building ORACLE
    from ..queries.ml import lexicon_polarity
    t = F.col(text_col)
    return df.withColumn("sentiment_score",
                         F.when(t != "", lexicon_polarity(t)[2]))


# --- T7, heavyweight-model form (r12 verdict #8): the reference loads
#     a transformer pipeline once per worker in DoFn.setup()
#     (dataflow/stream_join.py:231-346). The Spark-native shape for
#     that is pyspark.ml.functions.predict_batch_udf — make_predict_fn
#     runs ONCE per executor task (the setup() analog; a real
#     deployment loads its ONNX/torch weights there), then every Arrow
#     batch is scored as one numpy call. Here the model is a stub-
#     weights 2-layer MLP over embedding vectors: deterministic
#     seed-minted weights shipped via a SparkContext broadcast (the
#     S17 model-artifact discipline — no hub download, public shape
#     end-to-end). Works identically on batch and streaming frames
#     (parity pinned in tests/test_enrich_publish.py). ---
MODEL_SCORE_BATCH = 256


def stub_sentiment_weights(dim: int, hidden: int = 8,
                           n_classes: int = 3, seed: int = 7):
    """Deterministic 2-layer MLP weights (the broadcastable stand-in
    for a real model artifact)."""
    import numpy as np
    rng = np.random.default_rng(seed)
    return (rng.standard_normal((dim, hidden)) / np.sqrt(dim),
            rng.standard_normal(hidden) * 0.1,
            rng.standard_normal((hidden, n_classes)) / np.sqrt(hidden),
            rng.standard_normal(n_classes) * 0.1)


def make_model_score_udf(weights_bc, dim: int):
    """predict_batch_udf over a broadcast weights tuple: returns
    P(pos) − P(neg) of the stub MLP's softmax for each embedding."""
    from pyspark.ml.functions import predict_batch_udf
    from pyspark.sql.types import DoubleType

    def make_predict_fn():
        import numpy as np
        w1, b1, w2, b2 = weights_bc.value   # per-task setup() analog

        def predict(inputs: "np.ndarray") -> "np.ndarray":
            h = np.maximum(inputs @ w1 + b1, 0.0)
            logits = h @ w2 + b2
            e = np.exp(logits - logits.max(axis=1, keepdims=True))
            p = e / e.sum(axis=1, keepdims=True)
            return (p[:, -1] - p[:, 0]).astype(np.float64)

        return predict

    return predict_batch_udf(make_predict_fn,
                             return_type=DoubleType(),
                             batch_size=MODEL_SCORE_BATCH,
                             input_tensor_shapes=[[dim]])


def enrich_with_model_score(df: DataFrame, dim: int,
                            emb_col: str = "embedding",
                            weights=None) -> DataFrame:
    """Attach the stub-model score to each row (batch or streaming).
    Pass `weights` to reuse an existing artifact tuple; otherwise the
    deterministic stub weights are minted and broadcast here."""
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(weights if weights is not None
                      else stub_sentiment_weights(dim))
    udf = make_model_score_udf(bc, dim)
    return df.withColumn(
        "model_score",
        udf(F.transform(F.col(emb_col), lambda x: x.cast("float"))))


def join_static_dim(stream: DataFrame, dim: DataFrame,
                    on: str, how: str = "left") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (small) static dimension, explicitly broadcast — no state store, no
    watermark, and the stream side never shuffles. The static side is
    re-resolvable per micro-batch, so a dim table refreshed in place
    (e.g. the S17 model-bundle/symbol-metadata pattern) is picked up
    without restarting the query. Left join keeps stream rows whose key
    has no dim entry (late dim arrival must not drop facts)."""
    return stream.join(F.broadcast(dim), on, how)


def wrap_for_publish(df: DataFrame, key_col: str,
                     ts_col: str, attr_cols: tuple[str, ...] = ()) -> DataFrame:
    """Shape rows as publishable messages: key, JSON value, attributes
    map (event_timestamp RFC3339 + caller-chosen attribute columns)."""
    attrs = [F.lit("event_timestamp"),
             F.date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")]
    for c in attr_cols:
        attrs += [F.lit(c), F.col(c).cast("string")]
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
        F.map_from_arrays(
            F.array(*attrs[::2]), F.array(*attrs[1::2])).alias("attributes"),
    )
