"""Document classification kernel (K1 analog).

The reference classifies each page image with a YOLOv11-cls CNN, one
image per call (classification_service/app/models/classifier.py:16-33,
class map :9-14), loading weights per process (model_loder.py:10-15).
Our webtext analog: a linear softmax model over the DOM features the
extraction kernel already computed, with the weight matrix serialized to
bytes, **broadcast once**, and deserialized lazily per executor — the
exact broadcast-weights-ONNX pattern the north_star prescribes (we ship
the weights as npy bytes since onnxruntime isn't in this container; the
plumbing — broadcast, lazy per-worker init, batched inference per Arrow
batch — is the real thing).

The model runs INSIDE the extraction kernel (kernels/extract), on the
features that kernel has just computed for the same Arrow batch: one
Python crossing per batch, where a separate ``pandas_udf`` stage would
ship ``features`` back to Python and join its result onto rows the JVM
buffered meanwhile.

Classes mirror the reference's 4-way routing
(classifier.py:9-14: "Bulltin soin"/"facture"/"ordonnances"/"autre" →
article / invoice / form / other) and feed partition-pruned class-routed
writes (S4, classification_service/app/Kafka/producer.py:18-19).
"""

from __future__ import annotations

import io

import numpy as np
from pyspark.sql import DataFrame, SparkSession

CLASS_NAMES = ("article", "invoice", "form", "other")

# Feature order: n_links, n_tables, n_inputs, text_len, link_density, digit_ratio
# Transformed to x = [log1p(links), tables, inputs, log1p(len), link_dens, digit, 1]
_W = np.array(
    [
        # article: long text, few tables/inputs, low link density
        [-0.40, -1.20, -1.50, 1.10, -4.00, -6.00, -2.20],
        # invoice: tables + digit-heavy
        [-0.30, 2.50, -0.80, 0.30, -2.00, 18.00, -4.00],
        # form: input fields dominate
        [-0.30, -0.50, 2.80, 0.20, -2.00, 2.00, -3.50],
        # other: link farm — high link density, little text
        [0.60, -0.80, -0.80, -0.60, 9.00, -2.00, 0.50],
    ],
    dtype=np.float64,
)


def serialize_weights(w: np.ndarray = _W) -> bytes:
    buf = io.BytesIO()
    np.save(buf, w)
    return buf.getvalue()


def deserialize_weights(raw: bytes) -> np.ndarray:
    return np.load(io.BytesIO(raw))


def _transform(feats: np.ndarray) -> np.ndarray:
    x = np.empty((feats.shape[0], 7), dtype=np.float64)
    x[:, 0] = np.log1p(feats[:, 0])
    x[:, 1] = feats[:, 1]
    x[:, 2] = feats[:, 2]
    x[:, 3] = np.log1p(feats[:, 3])
    x[:, 4] = feats[:, 4]
    x[:, 5] = feats[:, 5]
    x[:, 6] = 1.0
    return x


def predict_batch(feats: np.ndarray, w: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Batched inference: softmax over class logits (classifier.py:22-24
    top-1 + confidence, vectorized over the whole Arrow batch).

    Each logit is ONE fixed-order sum over the 7 terms, element-wise, so
    a row's bits do not depend on the batch it rides in: an ``x @ w.T``
    matmul lets BLAS pick its summation order by batch shape (a 1-row
    batch took another path than a 6,000-row one on 31 of 6,000 pages).
    """
    x = _transform(feats)
    logits = x[:, :1] * w[:, 0]
    for j in range(1, x.shape[1]):
        logits += x[:, j : j + 1] * w[:, j]
    logits -= logits.max(axis=1, keepdims=True)
    p = np.exp(logits)
    p /= p.sum(axis=1, keepdims=True)
    top = p.argmax(axis=1)
    return top, p[np.arange(len(top)), top]


# One broadcast per SparkContext (keyed by identity — a fresh context
# gets a fresh broadcast) instead of one per classify() call, and one
# np.load per worker process (keyed by broadcast id) instead of one per
# Arrow batch: the reference reloaded its model per message
# (model_loder.py:10-15, the anti-pattern SURVEY §7 calls out); this is
# the load-once twin at both the driver and the executor level.
_BC_BY_CTX: dict = {}
_W_BY_BC: dict = {}


def _weights_broadcast(spark: SparkSession):
    sc = spark.sparkContext
    key = sc.applicationId  # unique per context, unlike id() (GC reuse)
    bc = _BC_BY_CTX.get(key)
    if bc is None:
        bc = sc.broadcast(serialize_weights())
        _BC_BY_CTX.clear()  # at most one live context in practice
        _BC_BY_CTX[key] = bc
    return bc


def _cached_weights(bc) -> np.ndarray:
    # worker-side unpickling resolves a broadcast through
    # pyspark.broadcast._broadcastRegistry, which returns the same
    # object for every task in the process — so id(bc) is a stable
    # per-process cache key (driver-side too)
    key = id(bc)
    w = _W_BY_BC.get(key)
    if w is None:
        w = deserialize_weights(bc.value)
        _W_BY_BC.clear()
        _W_BY_BC[key] = w
    return w


def classify_batch(
    features: np.ndarray, method: np.ndarray, w: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(doc_class, confidence) for one batch of extraction records.

    Non-HTML methods bypass the model like the reference's topic routing:
    pdf payloads are invoices-by-construction in our corpus mix and
    passthrough rows default to 'article', both with confidence 1.0.
    """
    top, conf = predict_batch(features, w)
    doc_class = np.array(CLASS_NAMES, dtype=object)[top]
    pdf, passthrough = method == "pdf", method == "passthrough"
    doc_class[pdf] = "invoice"
    doc_class[passthrough] = "article"
    conf[pdf | passthrough] = 1.0
    return doc_class, conf


def classify(extracted: DataFrame) -> DataFrame:
    """The recognize stage of the facade: ``extract`` output already
    carries (doc_class, confidence) — the kernel classifies each Arrow
    batch it extracts — so this returns its input unchanged."""
    return extracted
