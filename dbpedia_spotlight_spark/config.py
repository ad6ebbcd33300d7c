"""Pipeline parameters.

`PipelineParams` carries the reference's REST params (confidence,
support, types, policy — rest/.../resources/Annotate.java:57-66) and the
run's settings. The reference's fixed constants live as constants in the
one module that reads each: MAX_CANDIDATES and the fuzzy top-5
(operators/candidates.py), the smoothing lambda (operators/scoring.py),
the FaderMixture and LinearRegressionFeatureMixture constructor values
(operators/disambiguate.py); MIN_SF_LENGTH, which both spotters read,
lives here.
"""

from __future__ import annotations

from dataclasses import dataclass

# ShortSurfaceFormSelector.scala:10-12
MIN_SF_LENGTH = 3


@dataclass(frozen=True)
class PipelineParams:
    # --- spotting ---
    case_sensitive: bool = False

    # --- context scoring ---
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

    # --- result filters (REST-facing knobs) ---
    confidence: float = 0.0
    support: int = 0
    type_whitelist: tuple[str, ...] = ()
    uri_whitelist: tuple[str, ...] = ()   # SPARQL-filter stand-in (URI list param)
    coreference_resolution: bool = True

    # --- blocking ---
    salt_block_cap: int = 1024     # max mentions per (block, salt) task unit

    # --- execution ---
    shuffle_partitions: int = 32
    checkpoint_dir: str = ""       # empty = no checkpointing


DEFAULT_PARAMS = PipelineParams()
