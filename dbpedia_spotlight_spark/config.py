"""Pipeline parameters.

Mirrors the reference's knobs: REST params (confidence, support, types,
policy — rest/.../resources/Annotate.java:57-66), disambiguator constants
(MAX_CANDIDATES=10, MAX_CONTEXT=200 — db/DBTwoStepDisambiguator.scala:43,46),
smoothing lambda=0.2 (db/similarity/GenerativeContextSimilarity.scala:27),
fuzzy top-5 (db/DBCandidateSearcher.scala:19).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineParams:
    # --- spotting ---
    case_sensitive: bool = False
    overlap: bool = False          # AhoCorasickSpotter overlap flag
    min_sf_length: int = 3         # ShortSurfaceFormSelector.scala:10-12
    # "fsa" = vectorized token n-gram spotter (FSASpotter.scala recast —
    # the reference's v1.0 default; fully general since boundary-edged
    # sfs route to the embedded AC residue automaton, and ~6x the char
    # scan throughput with the hash-prefilter + ~4x smaller broadcast
    # dictionary); "ac" = char Aho-Corasick (the independent twin
    # implementation, kept selectable and parity-tested)
    spotter: str = "fsa"

    # --- candidate generation ---
    max_candidates: int = 10       # DBTwoStepDisambiguator.scala:43
    fuzzy_top_n: int = 5           # DBCandidateSearcher.scala:19 ADD_TOP_NORMALIZED_SFS

    # --- context scoring ---
    smoothing_lambda: float = 0.2  # GenerativeContextSimilarity.scala:27
    max_context: int = 200         # DBTwoStepDisambiguator.scala:46
    # Snowball stemmer for context tokens ("english" = Porter2, None = off;
    # db/tokenize/TextTokenizerFactory.scala:17-18). Must match the value
    # the model was BUILT with.
    stemmer: str | None = None
    # score mixture (disambiguate/mixtures/*.scala): "unweighted"
    # (default, UnweightedMixture), "linreg" (LinearRegressionMixture's
    # active getScore coefficients over P(e) + raw ln context),
    # "onlysim" (OnlySimScoreMixture — context channel alone),
    # "fader" / "fader2" (Fader et al. 2009 adaptations over
    # prior-prominence + context), "linregf"
    # (LinearRegressionFeatureMixture over named feature weights)
    mixture: str = "unweighted"
    # Fader mixture knobs (FaderMixture.scala:9 constructor params)
    mixture_context_weight: float = 0.5
    mixture_alpha: float = 1000.0
    mixture_surrogates_count: int = 1
    # LinearRegressionFeatureMixture weights: (feature, weight) over
    # {"P(e)", "P(c|e)", "P(s|e)"} + offset — the example instantiation
    # from LinearRegressionFeatureMixture.scala:11
    mixture_feature_weights: tuple = (
        ("P(e)", 0.0216), ("P(c|e)", 0.0005), ("P(s|e)", 0.2021),
    )
    mixture_feature_offset: float = 1.5097

    # --- result filters (REST-facing knobs) ---
    confidence: float = 0.0
    support: int = 0
    best_k: int = 20
    type_whitelist: tuple[str, ...] = ()
    type_blacklist: tuple[str, ...] = ()
    uri_whitelist: tuple[str, ...] = ()   # SPARQL-filter stand-in (URI list param)
    drop_list_of_pages: bool = True       # AnnotationFilter.scala:140-143
    coreference_resolution: bool = True

    # --- blocking ---
    salt_block_cap: int = 1024     # max mentions per (block, salt) task unit

    # --- execution ---
    shuffle_partitions: int = 32
    checkpoint_dir: str = ""       # empty = no checkpointing
    n_salts_max: int = 64


DEFAULT_PARAMS = PipelineParams()
