"""Deterministic synthetic fixture generator (FIXTURES.md).

Pure function of a seed. Produces:
  * `documents`  — the mandated input shape:
        doc_id string, spans array<struct<kind,text,media_ref,offset:int>>
  * `gold_occurrences` — planted mentions with gold URIs
    (mirrors the reference TSV occurrence format,
     core/.../io/AnnotatedTextSource.scala:84-116)
  * `training_occurrences` — the "indexing corpus": one row per link
    occurrence `(uri_raw, sf, context_tokens)`; the engine's model-build
    stage (plans/model_build.py) aggregates these into the statistics
    tables exactly like the Pig jobs consumed by
    index/.../db/CreateSpotlightModel.scala:160-229.
  * redirects (with 2-3-hop chains + one 2-cycle), disambiguation_pages,
    stopwords.
  * eval_pairs — labeled mention pairs at shared blocking keys.

Vocabulary design guarantees: context/filler words and entity-name words
are built from DISJOINT syllable alphabets, so dictionary matches in eval
documents are exactly the planted mentions (plus intended overlap cases
like a single-word alias inside a longer canonical name —
AhoCorasickSpotter.scala:81-110's "Dilma"/"Dilma Rousseff" scenario).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import pandas as pd

from ..functions.normalize import sf_normalize_py

STOPWORDS = ["the", "an", "a", "of", "in"]

_CONS_A = ["b", "d", "f", "g", "l", "m", "n", "p", "r", "s", "t"]
_CONS_B = ["k", "v", "z", "w", "j", "x", "q", "h", "c", "y"]
_VOWELS = ["a", "e", "i", "o", "u"]

MIN_SF_COUNT = 2          # CreateSpotlightModel.scala:34 (en)
MIN_TOKEN_COUNT = 3       # CreateSpotlightModel.scala:35 (en)


def _word(rng: random.Random, cons: list[str], n_syll: int) -> str:
    return "".join(
        rng.choice(cons) + rng.choice(_VOWELS) for _ in range(n_syll)
    )


@dataclass
class FixtureConfig:
    seed: int = 42
    n_docs: int = 200
    n_entities: int = 60
    n_context_words: int = 300
    n_filler_words: int = 120
    n_ambiguous_aliases: int = 8
    topic_size: int = 15
    train_scale: float = 40.0
    zipf_s: float = 1.05


@dataclass
class Entity:
    uri: str
    name_words: list[str]
    canonical: str
    aliases: list[str]          # extra surface forms (incl. shared ones)
    topic: list[str]
    popularity: float
    types: list[str] = field(default_factory=list)


@dataclass
class Fixture:
    config: FixtureConfig
    entities: list[Entity]
    documents: pd.DataFrame
    gold_occurrences: pd.DataFrame
    training_occurrences: pd.DataFrame
    unlinked_counts: pd.DataFrame
    lowercase_counts: pd.DataFrame
    instance_types: pd.DataFrame
    redirects: pd.DataFrame
    disambiguation_pages: pd.DataFrame
    stopwords: pd.DataFrame
    eval_pairs: pd.DataFrame
    # convenience: all dictionary surface forms (pre-pruning)
    all_surface_forms: list[str] = field(default_factory=list)


def _make_entities(rng: random.Random, cfg: FixtureConfig,
                   context_pool: list[str]) -> list[Entity]:
    entities: list[Entity] = []
    used_names: set[str] = set()
    pool = list(context_pool)
    rng.shuffle(pool)
    for i in range(cfg.n_entities):
        while True:
            n_words = rng.choice([1, 2, 2, 3])
            words = []
            for _ in range(n_words):
                w = _word(rng, _CONS_B, rng.choice([2, 3]))
                words.append(w.capitalize())
            canonical = " ".join(words)
            if canonical not in used_names:
                used_names.add(canonical)
                break
        topic = [pool[(i * cfg.topic_size + k) % len(pool)]
                 for k in range(cfg.topic_size)]
        entities.append(
            Entity(
                uri=canonical.replace(" ", "_"),
                name_words=words,
                canonical=canonical,
                aliases=[],
                topic=topic,
                popularity=1.0 / (i + 1) ** cfg.zipf_s,
            )
        )

    # Overlap cases ("Dilma" inside "Dilma Rousseff"): the first word of a
    # multi-word canonical becomes a surface form of a DIFFERENT entity.
    multi = [e for e in entities if len(e.name_words) > 1]
    for k, e in enumerate(multi[: max(3, len(multi) // 6)]):
        target = entities[(entities.index(e) + 7) % len(entities)]
        head = e.name_words[0]
        if head not in target.aliases and head != target.canonical:
            target.aliases.append(head)

    # Ontology types (model/OntologyType.scala namespace convention):
    # round-robin over a small set, ~20% untyped (UNKNOWN policy case)
    type_pool = ["DBpedia:Person", "DBpedia:Place", "DBpedia:Organisation",
                 "Schema:Thing"]
    for i, e in enumerate(entities):
        if i % 5 != 4:
            e.types = [type_pool[i % len(type_pool)]]
            if i % 7 == 0:
                e.types.append(type_pool[(i + 1) % len(type_pool)])

    # Shared ambiguous aliases: one alias string -> 2-5 entities.
    for k in range(cfg.n_ambiguous_aliases):
        alias = _word(rng, _CONS_B, 3).capitalize()
        group = rng.sample(entities, rng.randint(2, 5))
        for e in group:
            e.aliases.append(alias)
        # keep their topics disjoint so context disambiguates
        seen: set[str] = set()
        for e in group:
            e.topic = [t for t in e.topic if t not in seen] or e.topic[:3]
            seen.update(e.topic)
    return entities


def generate(cfg: FixtureConfig | None = None) -> Fixture:
    cfg = cfg or FixtureConfig()
    rng = random.Random(cfg.seed)

    context_pool = sorted({_word(rng, _CONS_A, rng.choice([2, 3]))
                           for _ in range(cfg.n_context_words)})
    filler_pool = sorted({_word(rng, _CONS_A, 4)
                          for _ in range(cfg.n_filler_words)})

    entities = _make_entities(rng, cfg, context_pool)
    by_uri = {e.uri: e for e in entities}

    # ---- redirects: Old_-prefixed chains to canonical URIs + one 2-cycle
    redirect_rows = []
    for e in entities[:: max(1, len(entities) // 10)]:
        redirect_rows.append((f"Old_{e.uri}", e.uri))
        redirect_rows.append((f"Older_{e.uri}", f"Old_{e.uri}"))  # 2-hop chain
    redirect_rows.append(("Cycle_A", "Cycle_B"))
    redirect_rows.append(("Cycle_B", "Cycle_A"))
    redirect_map = dict(redirect_rows)
    redirect_srcs = [r[0] for r in redirect_rows if r[0].startswith("Old_")]

    disambig_rows = [f"{e.uri}_(disambiguation)" for e in entities[:5]]

    # instance_types.nt analog (exploded triples):
    # WikipediaToDBpediaClosure / DBpediaResourceSource.scala:145
    type_rows = [(e.uri, t) for e in entities for t in e.types]

    # ---- training corpus: one row per link occurrence
    train_rows = []
    for e in entities:
        sfs = [e.canonical] * 4 + e.aliases  # canonical dominates priors
        # every sf sees >= MIN_SF_COUNT occurrences (else it would be pruned
        # and its mentions forced to NIL, breaking the F1 target)
        n_occ = max(
            MIN_SF_COUNT * len(sfs),
            round(e.popularity * cfg.train_scale * 10),
        )
        for j in range(n_occ):
            sf = sfs[j % len(sfs)]
            uri = e.uri
            if j % 11 == 3 and f"Old_{e.uri}" in redirect_map:
                uri = f"Old_{e.uri}"          # exercise redirect closure
            ctx = [e.topic[(j + k) % len(e.topic)] for k in range(20)]
            ctx += rng.sample(filler_pool, 3)
            ctx += rng.sample(STOPWORDS, 2)
            train_rows.append(
                (f"train-{e.uri}-{j}", uri, sf, " ".join(ctx))
            )
    training = pd.DataFrame(
        train_rows, columns=["occ_id", "uri_raw", "sf", "context"]
    )

    all_sfs = sorted({r[2] for r in train_rows})

    # Raw-count side files, mirroring the -1-annotated lowercase rows and
    # the total-count column of `sfAndTotalCounts`
    # (index/.../db/io/SurfaceFormSource.scala:25-88): unlinked appearances
    # and lowercase-variant counts come from the wider web corpus in the
    # reference; here they are seeded extras.
    unlinked = pd.DataFrame(
        {"sf": all_sfs,
         "unlinked_count": [rng.randint(0, 6) for _ in all_sfs]}
    )
    lowercase = pd.DataFrame(
        {"sf_lower": sorted({s.lower() for s in all_sfs}),
         "lowercase_count": [rng.randint(0, 3)
                             for _ in {s.lower() for s in all_sfs}]}
    )

    # ---- eval documents
    doc_rows, gold_rows = [], []
    ent_weights = [e.popularity for e in entities]
    for d in range(cfg.n_docs):
        doc_id = f"doc-{d:06d}"
        doc_entities = rng.choices(entities, weights=ent_weights,
                                   k=rng.randint(1, 3))
        # one alias-sharing entity per doc at most: drop duplicates by alias
        seen_alias: set[str] = set()
        kept = []
        for e in doc_entities:
            if any(a in seen_alias for a in e.aliases):
                continue
            seen_alias.update(e.aliases)
            kept.append(e)
        doc_entities = kept or [doc_entities[0]]

        # every 10th doc is long enough to exceed MAX_CONTEXT=200 tokens,
        # exercising the window-slicing path
        # (DBTwoStepDisambiguator.scala:49-93)
        n_text = rng.randint(14, 22) if d % 10 == 9 else rng.randint(2, 8)
        n_media = rng.randint(0, 3)
        span_kinds = ["text"] * n_text + ["media"] * n_media
        rng.shuffle(span_kinds)

        spans = []
        offset = 0
        media_i = 0
        for si, kind in enumerate(span_kinds):
            if kind == "media":
                caption = " ".join(rng.sample(filler_pool, rng.randint(2, 4)))
                spans.append(
                    {"kind": "media", "text": caption,
                     "media_ref": f"File:img_{d}_{media_i}.jpg",
                     "offset": offset}
                )
                media_i += 1
                offset += len(caption) + 1
                continue

            # items: (display_token, planted_sf or None, gold_uri or None);
            # a multi-word sf is ONE item, so char-offset accounting is a
            # single walk of the list at the end.
            items: list[tuple[str, str | None, str | None]] = []
            for _ in range(rng.randint(6, 14)):
                w = (rng.choice(filler_pool) if rng.random() < 0.6
                     else rng.choice(STOPWORDS))
                items.append((w, None, None))
            for _ in range(rng.randint(0, 2)):
                e = rng.choice(doc_entities)
                roll = rng.random()
                if roll < 0.62 or not e.aliases:
                    sf = e.canonical
                elif roll < 0.82:
                    sf = rng.choice(e.aliases)
                else:
                    sf = e.canonical.lower()   # ill-cased -> fuzzy fallback
                # surround the mention with the gold entity's topic words
                ctx = [e.topic[(d + k) % len(e.topic)] for k in range(5)]
                display = sf
                # punctuation adjacency (boundary chars, still spotted)
                pr = rng.random()
                if pr < 0.2:
                    display = "(" + sf + ")"
                elif pr < 0.4:
                    display = sf + ","
                block = (
                    [(c, None, None) for c in ctx[:2]]
                    + [(display, sf, e.uri)]
                    + [(c, None, None) for c in ctx[2:]]
                )
                pos = rng.randint(0, len(items))
                items[pos:pos] = block

            cum = 0
            for disp, sf, uri in items:
                if sf is not None:
                    gold_rows.append(
                        (f"{doc_id}-o{len(gold_rows)}", uri, sf,
                         doc_id, offset + cum + disp.index(sf))
                    )
                cum += len(disp) + 1
            text = " ".join(d for d, _, _ in items)
            spans.append({"kind": "text", "text": text,
                          "media_ref": "", "offset": offset})
            offset += len(text) + 1

        doc_rows.append((doc_id, spans))

    documents = pd.DataFrame(doc_rows, columns=["doc_id", "spans"])
    gold = pd.DataFrame(
        gold_rows, columns=["occ_id", "uri", "sf", "doc_id", "offset"]
    )

    # ---- eval pairs at shared blocking keys (labels = gold URI equality)
    gold = gold.assign(
        mention_key=gold.doc_id + ":" + gold.offset.astype(str),
        block_key=gold.sf.map(sf_normalize_py),
    )
    pair_rows = []
    for bk, grp in gold.groupby("block_key"):
        recs = grp.sort_values("mention_key").to_dict("records")
        for i in range(len(recs)):
            for j in range(i + 1, len(recs)):
                pair_rows.append(
                    (recs[i]["mention_key"], recs[j]["mention_key"], bk,
                     recs[i]["uri"] == recs[j]["uri"])
                )
    eval_pairs = pd.DataFrame(
        pair_rows,
        columns=["mention_a", "mention_b", "block_key", "same_entity"],
    )

    return Fixture(
        config=cfg,
        entities=entities,
        documents=documents,
        gold_occurrences=gold.drop(columns=["mention_key", "block_key"]),
        training_occurrences=training,
        unlinked_counts=unlinked,
        lowercase_counts=lowercase,
        instance_types=pd.DataFrame(type_rows, columns=["uri", "type"]),
        redirects=pd.DataFrame(redirect_rows, columns=["src_uri", "dst_uri"]),
        disambiguation_pages=pd.DataFrame({"uri": disambig_rows}),
        stopwords=pd.DataFrame({"word": STOPWORDS}),
        eval_pairs=eval_pairs,
        all_surface_forms=all_sfs,
    )


# ---------------------------------------------------------------------------
# Multi-word sf plants: the block-insert above handles single- and
# multi-word sfs identically because `words` items may contain spaces
# (a multi-word sf is one list item); offsets use len(w)+1 accounting.
# ---------------------------------------------------------------------------


def write_parquet(fx: Fixture, out_dir: str) -> None:
    """Write every fixture table as parquet under out_dir (pyarrow)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    os.makedirs(out_dir, exist_ok=True)

    span_type = pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
    )
    doc_schema = pa.schema([("doc_id", pa.string()), ("spans", span_type)])
    doc_tbl = pa.Table.from_pandas(fx.documents, schema=doc_schema,
                                   preserve_index=False)
    pq.write_table(doc_tbl, f"{out_dir}/documents.parquet")

    for name, df in [
        ("gold_occurrences", fx.gold_occurrences),
        ("training_occurrences", fx.training_occurrences),
        ("unlinked_counts", fx.unlinked_counts),
        ("lowercase_counts", fx.lowercase_counts),
        ("instance_types", fx.instance_types),
        ("redirects", fx.redirects),
        ("disambiguation_pages", fx.disambiguation_pages),
        ("stopwords", fx.stopwords),
        ("eval_pairs", fx.eval_pairs),
    ]:
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            f"{out_dir}/{name}.parquet",
        )
