"""Combined keep/drop scorer: langid + perplexity + heuristics -> verdict.

One config dataclass holds every threshold (SURVEY.md §7 step 2); presets:

* ``WEB_DEFAULT``  — Gopher-flavored bounds for Common-Crawl-style pages.
* ``DRIVER_DOCS``  — relaxed bounds sized for the driver's short synthetic
  ``documents`` table (median ~45 words), so correctness runs exercise
  both keep and drop branches.

``quality_signals`` is the single batch entry point used by the Spark
operator (`operators/scrub.py`) and the test oracle alike.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from incident_pii_redactor_spark.quality.heuristics import heuristic_signals
from incident_pii_redactor_spark.quality.langid import predict_language
from incident_pii_redactor_spark.quality.perplexity import perplexity_batch

# rule names, in severity order — first failing rule is the drop_reason
RULES = (
    "lang_allowed",
    "min_words",
    "max_words",
    "mean_word_len",
    "symbol_ratio",
    "stopword_ratio",
    "alpha_frac",
    "dup_line_frac",
    "dup_para_frac",
    "top_bigram_frac",
    "ellipsis_line_frac",
    "toxicity",
    "perplexity",
)


@dataclass(frozen=True)
class QualityConfig:
    allowed_langs: tuple = ("en",)
    min_words: int = 50
    max_words: int = 100_000
    min_mean_word_len: float = 3.0
    max_mean_word_len: float = 10.0
    max_symbol_ratio: float = 0.1
    min_stopword_ratio: float = 0.06
    min_alpha_frac: float = 0.8
    max_dup_line_frac: float = 0.3
    max_dup_para_frac: float = 0.3
    max_top_bigram_frac: float = 0.18
    max_ellipsis_line_frac: float = 0.3
    max_perplexity: float = 1.5e5
    min_lang_conf: float = 0.2
    max_toxicity_ratio: float = 0.05


WEB_DEFAULT = QualityConfig()
DRIVER_DOCS = QualityConfig(
    allowed_langs=("en", "de", "es", "fr", "zh"),
    min_words=20,
    max_perplexity=5e5,
    min_stopword_ratio=0.0,
    min_lang_conf=0.0,
)


def quality_signals(
    texts: pd.Series, cfg: QualityConfig = WEB_DEFAULT
) -> pd.DataFrame:
    """Score a batch. Returns heuristic signal columns plus:
    lang_pred, lang_conf, ppl, keep (bool), drop_reason (str, '' if kept),
    and one boolean ``rule_<name>`` column per rule (True = passed)."""
    from incident_pii_redactor_spark.quality.perplexity import (
        factorized_tokens,
    )
    from incident_pii_redactor_spark.quality.toxicity import toxicity_ratio

    # one shared tokenize+factorize pass for heuristics/ppl/toxicity
    tok = factorized_tokens(texts.fillna(""))
    sig = heuristic_signals(texts, tok=tok)
    langs, conf = predict_language(list(texts.fillna("")))
    sig["lang_pred"] = langs
    sig["lang_conf"] = conf
    sig["ppl"] = perplexity_batch(texts, tok=tok)
    sig["tox_ratio"] = toxicity_ratio(texts, tok=tok)

    passed = {
        "lang_allowed": np.isin(langs.astype(str), cfg.allowed_langs)
        & (conf >= cfg.min_lang_conf),
        "min_words": sig["word_count"].to_numpy() >= cfg.min_words,
        "max_words": sig["word_count"].to_numpy() <= cfg.max_words,
        "mean_word_len": (sig["mean_word_len"].to_numpy() >= cfg.min_mean_word_len)
        & (sig["mean_word_len"].to_numpy() <= cfg.max_mean_word_len),
        "symbol_ratio": sig["symbol_ratio"].to_numpy() <= cfg.max_symbol_ratio,
        "stopword_ratio": sig["stopword_ratio"].to_numpy()
        >= cfg.min_stopword_ratio,
        "alpha_frac": sig["alpha_frac"].to_numpy() >= cfg.min_alpha_frac,
        "dup_line_frac": sig["dup_line_frac"].to_numpy() <= cfg.max_dup_line_frac,
        "dup_para_frac": sig["dup_para_frac"].to_numpy()
        <= cfg.max_dup_para_frac,
        "top_bigram_frac": sig["top_bigram_frac"].to_numpy()
        <= cfg.max_top_bigram_frac,
        "ellipsis_line_frac": sig["ellipsis_line_frac"].to_numpy()
        <= cfg.max_ellipsis_line_frac,
        "toxicity": sig["tox_ratio"].to_numpy() <= cfg.max_toxicity_ratio,
        "perplexity": sig["ppl"].to_numpy() <= cfg.max_perplexity,
    }
    keep = np.ones(len(texts), dtype=bool)
    drop_reason = np.full(len(texts), "", dtype=object)
    for rule in reversed(RULES):  # earlier rules overwrite -> first failure wins
        ok = passed[rule]
        keep &= ok
        drop_reason[~ok] = rule
        sig[f"rule_{rule}"] = ok
    sig["keep"] = keep
    sig["drop_reason"] = drop_reason
    return sig
