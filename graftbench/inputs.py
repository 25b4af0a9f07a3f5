"""Seeded benchmark inputs: a pure function of (seed, size).

Three files are made, each byte-identical for the same (seed, size):

- ``churn_raw.csv``: a Telco-shaped raw churn table with the reference's
  21 columns and quirks (``TotalCharges`` is a string, blank on exactly the
  tenure-0 rows; a few categorical cells are empty, so the "Unknown" fill
  has work to do).
- ``documents.parquet``: the fixture schema (doc_id, text, lang, source,
  n_chars) over the fixture's 30-word vocabulary; 5% of documents are an
  earlier document's text plus a ``dup`` token, so near-dup detection
  fires as it does on the fixture.
- ``embeddings.parquet``: unit-norm 64-dim float vectors with a label in
  0..9, as in the fixture.

Nothing here reads a clock or the environment, so two generations with
the same arguments give the same bytes (``digest`` shows it).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DIM = 64

_YN = ("Yes", "No")
_ADDONS = ("OnlineSecurity", "OnlineBackup", "DeviceProtection", "TechSupport", "StreamingTV", "StreamingMovies")
_CONTRACTS = ("Month-to-month", "One year", "Two year")
_PAYMENTS = ("Electronic check", "Mailed check", "Bank transfer (automatic)", "Credit card (automatic)")
_INTERNET = ("DSL", "Fiber optic", "No")
CHURN_HEADER = (
    "customerID,gender,SeniorCitizen,Partner,Dependents,tenure,PhoneService,MultipleLines,"
    "InternetService,OnlineSecurity,OnlineBackup,DeviceProtection,TechSupport,StreamingTV,"
    "StreamingMovies,Contract,PaperlessBilling,PaymentMethod,MonthlyCharges,TotalCharges,Churn"
)
#: categorical columns that sometimes arrive empty (→ NULL → "Unknown")
_SPARSE = ("Partner", "PaymentMethod", "StreamingTV")
_EMPTY_RATE = 0.002


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, int.from_bytes(stream.encode(), "little") % (1 << 32)])


def write_churn_csv(path: str, seed: int, rows: int) -> None:
    r = _rng(seed, "churn")

    def pick(opts, p=None):
        return np.asarray(opts, dtype=object)[r.choice(len(opts), size=rows, p=p)]

    tenure = r.integers(0, 73, size=rows)
    phone = pick(_YN, (0.9, 0.1))
    internet = pick(_INTERNET, (0.34, 0.44, 0.22))
    monthly = np.round(18.25 + r.random(rows) * 100.5, 2)
    total = np.round(tenure * monthly * (0.9 + 0.2 * r.random(rows)), 2)
    letters = r.integers(65, 91, size=(rows, 5), dtype=np.uint8)
    cols = {
        "customerID": [f"{i:04d}-{w.tobytes().decode()}" for i, w in enumerate(letters)],
        "gender": pick(("Female", "Male")),
        "SeniorCitizen": (r.random(rows) < 0.16).astype(int).astype(str),
        "Partner": pick(_YN),
        "Dependents": pick(_YN, (0.3, 0.7)),
        "tenure": tenure.astype(str),
        "PhoneService": phone,
        "MultipleLines": np.where(phone == "No", "No phone service", pick(_YN)),
        "InternetService": internet,
    }
    for name in _ADDONS:
        cols[name] = np.where(internet == "No", "No internet service", pick(_YN))
    cols["Contract"] = pick(_CONTRACTS, (0.55, 0.21, 0.24))
    cols["PaperlessBilling"] = pick(_YN, (0.6, 0.4))
    cols["PaymentMethod"] = pick(_PAYMENTS)
    cols["MonthlyCharges"] = np.char.mod("%.2f", monthly)
    # the reference's quirk: TotalCharges is blank on exactly the tenure-0 rows
    cols["TotalCharges"] = np.where(tenure == 0, " ", np.char.mod("%.2f", total))
    cols["Churn"] = np.where(r.random(rows) < 0.265, "Yes", "No")
    for name in _SPARSE:
        cols[name] = np.where(r.random(rows) < _EMPTY_RATE, "", cols[name])
    table = np.column_stack([np.asarray(cols[c], dtype=object) for c in CHURN_HEADER.split(",")])
    with open(path, "w", newline="") as fh:
        fh.write(CHURN_HEADER + "\n")
        fh.writelines(",".join(row) + "\n" for row in table)


def documents_table(seed: int, docs: int) -> pa.Table:
    r = _rng(seed, "documents")
    n_words = r.integers(10, 101, size=docs)
    words = r.integers(0, len(VOCAB), size=int(n_words.sum()))
    offsets = np.concatenate([[0], np.cumsum(n_words)])
    texts = [" ".join(VOCAB[w] for w in words[offsets[i] : offsets[i + 1]]) for i in range(docs)]
    # near-dups: an earlier non-dup document's text plus a "dup" token
    is_dup = r.random(docs) < 0.05
    is_dup[0] = False
    for i in np.flatnonzero(is_dup):
        src = int(r.integers(0, i))
        while is_dup[src]:
            src = int(r.integers(0, i))
        texts[i] = texts[src] + " dup"
    lang = r.choice(len(LANGS), size=docs, p=LANG_P)
    ids = np.arange(docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[x] for x in lang]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, vectors: int) -> pa.Table:
    r = _rng(seed, "embeddings")
    v = r.standard_normal((vectors, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(vectors, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, size=vectors).astype(np.int32)),
        }
    )


def write_corpus(out_dir: str, seed: int, docs: int, vectors: int) -> None:
    for name, table in (("documents", documents_table(seed, docs)), ("embeddings", embeddings_table(seed, vectors))):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(os.path.basename(p).encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]
