"""Benchmark inputs, each a pure function of (size, seed).

* the standard corpus: `corpus.make_page` rows produced by the engine's own
  distributed synthesizer (`sources.pages.synthesize_pages`) — 30 % html-only
  rows, a non-English share the language filter drops, and only a few
  hundred distinct entities;
* the entity-dense corpus: short English pages of subject-verb-object
  sentences ("X works for Y") whose names come from a large pool of
  synthetic people, each written in one of its three
  `corpus.alias_variants` forms, so entity linking has tens of thousands of
  distinct names to block, score and merge.
"""

from __future__ import annotations

import datetime
import random
from pathlib import Path
from typing import Dict, List

_SYLLABLES = ["ka", "lo", "mi", "ra", "ten", "vor", "sel", "dan", "bri", "ul",
              "zen", "pa", "gor", "fi", "nu", "wes", "ha", "tor", "lin", "ek",
              "sa", "mor", "qui", "bel", "ro", "dex", "yo", "ivo", "cam", "ner"]
_ORG_SUFFIX = ["Corp", "Inc", "Ltd", "Group", "Labs", "Works"]
_PLACES = ["Berlin", "Prague", "Tokyo", "Lisbon", "Toronto", "Oslo", "Quito",
           "Nairobi", "Hanoi", "Perth", "Lima", "Riga"]
_EPOCH = datetime.datetime(2026, 1, 1)


def _word(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice(_SYLLABLES)
                   for _ in range(rng.randint(lo, hi))).capitalize()


def name_pool(n_people: int, seed: int):
    """`n_people` distinct (first, last) pairs and n_people // 8 orgs."""
    rng = random.Random(f"{seed}:pool")
    people, seen = [], set()
    while len(people) < n_people:
        p = (_word(rng, 2, 3), _word(rng, 2, 3))
        if p not in seen:
            seen.add(p)
            people.append(p)
    orgs = sorted({f"{_word(rng, 2, 3)} {rng.choice(_ORG_SUFFIX)}"
                   for _ in range(max(8, n_people // 8))})
    return people, orgs


def entity_dense_page(i: int, seed: int, people, orgs) -> Dict:
    """One page of 6-11 SVO sentences; every sentence is one triple the
    extractor must find. Returns the page row plus `n_svo` for the
    generator self-check."""
    from llm_knowledge_graph_spark.corpus import alias_variants
    rng = random.Random(f"{seed}:{i}")

    def person() -> str:
        first, last = rng.choice(people)
        return rng.choice(alias_variants(first, last))

    sents = []
    for _ in range(6 + rng.randrange(6)):
        kind = rng.randrange(10)
        if kind < 5:
            verb = rng.choice(["works for", "founded", "leads"])
            sents.append(f"{person()} {verb} {rng.choice(orgs)}.")
        elif kind < 8:
            verb = rng.choice(["married", "loves"])
            sents.append(f"{person()} {verb} {person()}.")
        else:
            sents.append(f"{person()} moved to {rng.choice(_PLACES)}.")
    return {
        "url": f"https://dense.example.org/p{i}",
        "warc_ts": _EPOCH + datetime.timedelta(seconds=i * 61),
        "html": None,
        "text": "\n".join(sents),
        "lang": "en",
        "n_svo": len(sents),
    }


def entity_dense_rows(n_pages: int, n_people: int, seed: int) -> List[Dict]:
    people, orgs = name_pool(n_people, seed)
    return [entity_dense_page(i, seed, people, orgs) for i in range(n_pages)]


def check_entity_dense_sample(rows: List[Dict], n: int = 50) -> bool:
    """The generator is only useful if the extractor parses every sentence
    it writes: one relationship per sentence on a fixed sample."""
    from llm_knowledge_graph_spark.reference_impl import extract_chunk
    return all(len(extract_chunk(r["text"])["relationships"]) == r["n_svo"]
               for r in rows[:n])


def write_standard_pages(spark, n_pages: int, seed: int, path: str) -> None:
    from llm_knowledge_graph_spark.sources.pages import (synthesize_pages,
                                                         write_pages)
    write_pages(synthesize_pages(spark, n_pages, seed=seed, parallelism=4),
                path)


def write_entity_dense_pages(rows: List[Dict], path: str,
                             n_files: int = 4) -> None:
    """Written with pyarrow in the pages table's schema (the engine reads
    the input, it does not produce it), one file per core so the scan has
    as many splits as the session has cores."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    Path(path).mkdir(parents=True, exist_ok=True)
    for k in range(n_files):
        part = [{f: r[f] for f in schema.names} for r in rows[k::n_files]]
        pq.write_table(pa.Table.from_pylist(part, schema),
                       f"{path}/part-{k}.parquet")
