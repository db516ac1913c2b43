"""Seeded document corpus with planted duplicates for the docs workload.

The corpus has the shape of the project's ``documents`` test tables
(doc_id, source, lang, text: whitespace-separated lowercase words, 10-100
words per document, 20 sources) so it exercises the same operators, but it
is generated here from the workload seed, so the benchmark needs no data
file outside its own directory.

Every document is either

* an *original*: words drawn at random from ``VOCAB``;
* an *exact copy*: the text of an earlier original, byte for byte;
* a *near copy*: the text of an earlier original plus the word ``dup``
  (char-5-shingle Jaccard >= 0.92 with the original at 10+ words).

Copies always follow their original, so the pipeline's min-id keeper rules
give a ground truth that needs no engine: exact dedup keeps the first
occurrence of each distinct text, and near-dup clustering keeps exactly the
originals.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# 60 words: wide enough that two random originals stay far below the 0.8
# shingle-Jaccard threshold, and "the"/"a"/"of"/"and" keep the stopword
# signal of the quality score non-zero, as in the project's test corpora.
VOCAB = (
    "a the of and to in batch part spark line column order small sort fast "
    "value scan hash slow group agg filter query big key window row table "
    "stream merge data join vector customer claim member provider plan "
    "payer network region county clinic record match score block cluster "
    "golden master source entity rule field audit ledger route kernel shard "
    "frame"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
# Share of near and of exact copies: 5% and 0.2%, so that near-dup
# clustering removes several times more documents than exact dedup, as in
# the project's test corpora (5000 -> 4992 exact -> 4756 near at sf0.1).
NEAR_P = 0.05
EXACT_P = 0.002


@dataclass(frozen=True)
class Corpus:
    doc_ids: list[int]
    sources: list[str]
    langs: list[str]
    texts: list[str]
    origins: list[int]  # per doc: the original it copies, or its own id

    @property
    def originals(self) -> set[int]:
        return {i for i, origin in zip(self.doc_ids, self.origins) if i == origin}

    def first_occurrences(self) -> set[int]:
        """ids that survive exact dedup: the lowest id of each text."""
        seen: set[str] = set()
        keep = set()
        for doc_id, text in zip(self.doc_ids, self.texts):
            if text not in seen:
                seen.add(text)
                keep.add(doc_id)
        return keep

    def write_parquet(self, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(self.doc_ids, pa.int64()),
                    "text": self.texts,
                    "lang": self.langs,
                    "source": self.sources,
                    "n_chars": pa.array([len(t) for t in self.texts], pa.int64()),
                }
            ),
            path,
        )


def generate_corpus(seed: int, n_docs: int) -> Corpus:
    rng = random.Random(seed)
    texts: list[str] = []
    origins: list[int] = []
    originals: list[int] = []
    for doc_id in range(n_docs):
        r = rng.random()
        if originals and r < EXACT_P + NEAR_P:
            origin = rng.choice(originals)
            texts.append(texts[origin] + ("" if r < EXACT_P else " dup"))
        else:
            origin = doc_id
            texts.append(" ".join(rng.choices(VOCAB, k=rng.randint(10, 100))))
            originals.append(doc_id)
        origins.append(origin)
    return Corpus(
        doc_ids=list(range(n_docs)),
        sources=[f"src{i % N_SOURCES}" for i in range(n_docs)],
        langs=rng.choices(LANGS, weights=LANG_WEIGHTS, k=n_docs),
        texts=texts,
        origins=origins,
    )
