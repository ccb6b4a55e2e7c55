"""Golden SHA-256 digests of every output derived from the seed-corpus
generator: per-language corpora and vocabularies, the MinHash permutation
coefficients, the junk corpus, the four trained model artifacts and the two
oracle SQL strings that embed them. A change to the splitmix draws, to the
string assembly or to a trainer shows up here as a digest mismatch, named
per output."""

from __future__ import annotations

import hashlib

import numpy as np

from dataquality_spark import spec


def _digest(obj) -> str:
    """SHA-256 over a canonical walk of dicts (sorted keys), sequences,
    numpy arrays (dtype, shape and raw bytes) and scalars (repr)."""
    h = hashlib.sha256()

    def feed(o):
        if isinstance(o, dict):
            h.update(b"{")
            for k in sorted(o):
                feed(k)
                feed(o[k])
            h.update(b"}")
        elif isinstance(o, np.ndarray):
            h.update(f"<{o.dtype.str}{o.shape}>".encode())
            h.update(np.ascontiguousarray(o).tobytes())
        elif isinstance(o, (list, tuple)):
            h.update(b"[")
            for x in o:
                feed(x)
            h.update(b"]")
        else:
            h.update(repr(o).encode())

    feed(obj)
    return h.hexdigest()


GOLDEN_CORPUS = {
    "da": "a825aa6d4002bfe90551eae95fb82bdf2669f9645790d762c33e5346282bd6e2",
    "de": "d303a86c76ac0b3d8cfce4b3806b1fb0c2f01531cfba1747c594d8725adb4c71",
    "en": "dd4164be2694b5500aaeb8b591f380b8678f6e6e2f06367469690ad89b0fad80",
    "es": "049503860bac5f4d2fa9240be82278555ea742c3aef1a4fe7bb2c42a456de8ab",
    "fi": "e2bc21bf2c5f54a14f63b838a5a28acb24df33730b0ee965c0a6137cef1f2dd1",
    "fr": "4ea4c364b956580cc9200d33e4c82761255fd1de97e6a9a755be4d95db28637a",
    "id": "e5b32f51f5e6f9c700b1729f0b227519a0e7aeb22d36ce4bcbb3a44038c431eb",
    "it": "6a1b9501562bd9965d2cedbb60d0427ecd375a5b399ef49f57ae00b96dceb2fb",
    "nl": "0074efdea43b50d33ef9d26f35a3205994429ee73fa79d0cb038adeb9c1ccd2b",
    "no": "d853f911b3933f35c6e50b87ce83381758d04efcc97a9128a5d17fcec58f257d",
    "pl": "a3172a0a6e9e5ae0ce6e7d30153017a9adced6a3302d5b53fc8cf89eceeb50a7",
    "pt": "a37a0de23e310960316f69f044b3675723f1e2b29f30720d20616ab043474ef7",
    "sv": "808504b8b6aff2c992952330e2cb3ab229a2c7fa3e62c0338976912631f601f9",
}
GOLDEN_VOCAB = {
    "da": "d059bc8cde15fba2e221e30992c17a309a6f6b8b608b2ceadab3c6078c36410e",
    "de": "7b895cf7498b6d39393f81476e59f3f84b0e11b9d25e50ba0af2817f6cb74747",
    "en": "cc14c6b45a2ecffe765706cd85627baf9c5da46ccfbf4b47c55035bb3bf66646",
    "es": "326db6d10eded587b2bbf08cfcb201d967ccb72ed763832dbf638a14a0de5dfb",
    "fi": "5475a24eadb5360681664ba20ed553d9c2b53037656231cc98144376c6ca9c47",
    "fr": "5ffafebe1cb5daff4e791e6dfb058daef21a31f6237db24e3f1b488f0137c5d4",
    "id": "5329c657c1b346c81d82b906d5df2a20b5fa11da3b9892b5d4767e5d7eb0a098",
    "it": "36be889b00e5c41134da0ff71d668fb7e7477e361f974e592ffdbec2d0df385d",
    "nl": "60a097cd4f91bca55e380bee317d55a4e8d2ca2aad21244e923a736236c9bf85",
    "no": "87c9378969423876ee965f86524c22e678ec2f5dce434e78107e376ec9dde84c",
    "pl": "5fc8dbe6179225ad1b407068c87b5510f7f40151a7a35de7f8ec2f22bb4e57e7",
    "pt": "58f610a8c0168574603b16588929525053819d88d88972afc4ddc8e6a9fe2f78",
    "sv": "edd895d50af851ed6e7287768c67bd3609d34e4bd10b243e0120615a92aef0ba",
}
GOLDEN = {
    "seed_corpus_en_220": "695ec902cef663ea71142f0ab289492921a55c8ce6b6d01421122579a2505aa8",
    "perm_params": "3ec0296c2b0960b1d6e4e8505ca0f460c3238ee2f3d9f0bfbd17c1b187104a14",
    "junk_corpus_600": "7d6f47b4c4b75a4d532f8b250883116e1a235d5f472146545833b67d903bdc50",
    "train_langid": "37c5f0f9ea1efa5fddd51e13b2c54c2ab2727ba00cfaa70850c62aae70ebf43e",
    "train_lm": "4d61af7c91ba3e678eae915a7afcf79291d80202a6f3eae23f5e1f30f7afc280",
    "train_langid_portable": "ba3e2736fd803d58ff6a46bd633f22c363e5659f9bfa0972c6eadf73deec0d22",
    "train_lm_portable": "c22cc92830bb70faf875b85dcd2afde85e1bf4f006eea27033edaad55c4c979f",
    "oracle_pages_pipeline": "1bb9c80e8b354d49afe1143c7a8a52f28e1f3c3128785472ef2c052caf47bb8c",
    "oracle_langid_scores": "eb24b1b029949074d7d8a1c0711253dad8f018f039ec1e34db48e8200de7dd08",
}


def test_seed_corpus_and_vocab_digests():
    from dataquality_spark.models import corpus
    got_c = {lg: _digest(corpus.seed_corpus(lg)) for lg in spec.LANGS}
    got_v = {lg: _digest(corpus.content_vocab(lg)) for lg in spec.LANGS}
    assert got_c == GOLDEN_CORPUS
    assert got_v == GOLDEN_VOCAB
    # docs 200-219 are the held-out langid slice (tests/test_models.py)
    assert _digest(corpus.seed_corpus("en", 220)) == GOLDEN["seed_corpus_en_220"]


def test_minhash_coefficients_and_junk_digests():
    from dataquality_spark.models import quality
    from dataquality_spark.operators.dedup import _perm_params
    assert _digest(_perm_params()) == GOLDEN["perm_params"]
    assert _digest(quality.junk_corpus(600)) == GOLDEN["junk_corpus_600"]


def test_trained_artifact_digests():
    from dataquality_spark.models import langid, ngram_lm
    assert _digest(langid.train_langid()) == GOLDEN["train_langid"]
    assert _digest(ngram_lm.train_lm()) == GOLDEN["train_lm"]
    assert (_digest(langid.train_langid_portable())
            == GOLDEN["train_langid_portable"])
    assert _digest(ngram_lm.train_lm_portable()) == GOLDEN["train_lm_portable"]


def test_oracle_sql_digests():
    from dataquality_spark.queries import ORACLE_SQL
    for name in ("pages_pipeline", "langid_scores"):
        assert _digest(ORACLE_SQL[name]) == GOLDEN[f"oracle_{name}"], name
