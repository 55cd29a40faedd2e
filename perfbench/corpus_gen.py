"""Seeded document corpus in the shape of the ``documents`` test table.

Documents are 10-100 tokens drawn from a 30-word vocabulary, with a
language and one of 20 sources, like the sf0.1 table.  On top of that:

- ``stream_line`` is bench.py's streaming-epoch synthesis: an
  ``intro <id>`` paragraph, a planted boilerplate paragraph, the body,
  and a URL where every tenth document is a recrawl of one of 50 pages
  (half of all URLs carry a tracking parameter that canonicalization
  strips);
- ``disjoint_copies`` is bench.py's 10x synthesis: copies with offset ids
  and a per-copy token prefix, so shingle spaces stay disjoint;
- the evaluation slice is every document with ``doc_id % 97 == 0``;
- ``prepared_texts`` is what ``prepare_training_corpus`` must return for
  the disjoint copies with the benchmark's stage set, derived from the
  generator's own knowledge of the documents.
"""

from __future__ import annotations

import hashlib
import json
import random

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
BOILERPLATE = "This website uses cookies to improve your experience."
EVAL_MOD = 97
#: token n-gram length of decontamination (``prepare_training_corpus``'s
#: ``decontam_n`` default)
DECONTAM_N = 13


def documents(seed: int, n: int) -> list:
    rng = random.Random(f"corpus-{seed}")
    out = []
    for i in range(n):
        k = rng.randint(10, 100)
        out.append(
            {
                "doc_id": i,
                "text": " ".join(rng.choice(VOCAB) for _ in range(k)),
                "lang": rng.choice(LANGS),
                "source": f"src{rng.randrange(20)}",
            }
        )
    return out


def framed_text(doc: dict) -> str:
    return f"intro {doc['doc_id']}\n\n{BOILERPLATE}\n\n{doc['text']}"


def page_url(doc: dict, tracking: bool = True) -> str:
    did = doc["doc_id"]
    page = did % 50 if did % 10 == 0 else did
    query = "?utm_source=feed&a=1" if tracking and did % 2 == 0 else "?a=1"
    return f"https://{doc['source']}.example.com/{doc['lang']}/page-{page}{query}"


def stream_line(doc: dict) -> str:
    return json.dumps({"doc_id": doc["doc_id"], "text": framed_text(doc), "url": page_url(doc)})


def canonical_urls(docs: list) -> int:
    """Distinct URLs once the tracking parameter is stripped: the number of
    documents URL dedup keeps."""
    return len({page_url(d, tracking=False) for d in docs})


def disjoint_copies(docs: list, copies: int) -> list:
    out = []
    for c in range(copies):
        for d in docs:
            out.append(
                {
                    "doc_id": d["doc_id"] + c * 10_000_000,
                    "text": " ".join(f"c{c}{t}" for t in d["text"].split(" ")),
                    "lang": d["lang"],
                    "source": d["source"],
                }
            )
    return out


def eval_docs(docs: list) -> list:
    """The evaluation slice of ``docs``: each ``doc_id % 97 == 0`` document
    of at least ``2 * DECONTAM_N`` tokens, whose body then holds an eval
    n-gram however the paragraph breaks around it are tokenized."""
    return [
        {"doc_id": d["doc_id"], "text": d["text"]}
        for d in docs
        if d["doc_id"] % EVAL_MOD == 0 and len(d["text"].split()) >= 2 * DECONTAM_N
    ]


def sample_bucket(salt: str, doc_id: int) -> float:
    """The deterministic md5 sampler's bucket in [0, 1) for one key
    (``operators.sampling.hash_bucket``)."""
    digest = hashlib.md5(f"{salt}\x1f{doc_id}".encode()).hexdigest()
    return int(digest[:8], 16) / float(1 << 32)


def prepared_texts(docs: list, evals: list, sample_rate: float, salt: str) -> dict:
    """doc_id -> text that ``prepare_training_corpus`` returns for the
    ``framed_text`` of disjoint copies ``docs`` with paragraph dedup, near
    dedup, decontamination against ``evals``, a token floor of at most 12
    and a ``sample_rate`` sample:

    - the boilerplate paragraph survives only in the lowest doc_id;
    - no two documents share a 3-token shingle beyond chance (random
      text, disjoint copies), so exact and near dedup drop nothing;
    - every evaluation document is contaminated, by its own body;
    - every document has at least 12 tokens;
    - the sample keeps a document when its bucket under the stage's
      derived salt ``<salt>#sample`` is below ``sample_rate``.
    """
    keeper = min(d["doc_id"] for d in docs)
    contaminated = {e["doc_id"] for e in evals}
    out = {}
    for d in docs:
        did = d["doc_id"]
        if did in contaminated or sample_bucket(f"{salt}#sample", did) >= sample_rate:
            continue
        out[did] = framed_text(d) if did == keeper else f"intro {did}\n\n{d['text']}"
    return out
