"""DSL robustness fuzz: random/malformed query dicts must either execute
or raise QueryValidationError/ValueError — never leak a raw KeyError/
TypeError/AttributeError to the caller (fromXContent rejects malformed
JSON with a parse error; this is the engine-side equivalent)."""

from __future__ import annotations

import random

import pytest

from neural_search_spark.index.build import build_index_tables
from neural_search_spark.query.dsl import QueryEngine, QueryValidationError

DOCS = [(i, f"alpha beta gamma tok{i}") for i in range(8)]

KINDS = [
    "match", "match_phrase", "term", "prefix", "wildcard", "fuzzy",
    "neural_sparse", "neural", "hybrid", "bool", "ids", "exists",
    "match_all", "match_none", "synonym", "more_like_this", "span_near",
    "function_score", "range", "terms", "nonsense_kind",
    # third-wave kinds
    "dis_max", "boosting", "constant_score", "regexp", "terms_set",
    "match_phrase_prefix", "rank_feature", "simple_query_string",
]
VALUES = [None, 1, "alpha", [], {}, [1, 2], {"query": "alpha"},
          {"value": "alpha"}, {"field": "text"}, {"terms": ["alpha"]},
          {"like": [0]}, {"groups": [["alpha"]]}, {"queries": []},
          {"query": {"term": {"text": "alpha"}}},
          {"queries": [{"match": {"text": "alpha"}}], "tie_breaker": 2},
          {"positive": {"match": {"text": "alpha"}}},
          {"filter": {"match": {"text": "alpha"}}},
          {"text": {"terms": ["alpha"], "minimum_should_match_field": "nope"}},
          {"field": "text", "saturation": {"pivot": -1}},
          # transform dict present but the required inner key absent —
          # must raise QueryValidationError, never a raw KeyError
          {"field": "text", "saturation": {}},
          {"field": "text", "log": {}},
          {"field": "text", "sigmoid": {}},
          {"field": "text", "sigmoid": {"pivot": 1.0}},
          {"query": "+alpha -beta g*", "default_operator": "nand"}]


@pytest.fixture(scope="module")
def fuzz_engine(spark):
    docs = spark.createDataFrame(DOCS, "docID long, text string")
    return QueryEngine(tables=build_index_tables(docs), docs=docs)


def test_dsl_never_leaks_raw_errors(fuzz_engine):
    rng = random.Random(17)
    from py4j.protocol import Py4JError  # Spark-side analysis errors allowed? no
    allowed = (QueryValidationError, ValueError, KeyError, TypeError)
    # KeyError/TypeError ARE the raw leaks we measure; count them
    leaks = []
    for trial in range(120):
        kind = rng.choice(KINDS)
        body = rng.choice(VALUES)
        q = {kind: body}
        try:
            df = fuzz_engine.search(q, k=3)
            df.collect()
        except QueryValidationError:
            pass
        except ValueError:
            pass  # explicit validation in sub-modules
        except (KeyError, TypeError, AttributeError) as e:
            leaks.append((q, type(e).__name__, str(e)[:60]))
        except Py4JError as e:  # pragma: no cover
            leaks.append((q, "Py4J", str(e)[:60]))
    # a soft budget: malformed input should overwhelmingly map to the
    # validation error; raw leaks indicate missing parse guards
    assert not leaks, leaks[:5]


@pytest.mark.parametrize("dec", ["6", 1.5, 6.0, -1, True, [6], {"v": 6}])
def test_top_hits_score_decimals_rejects_non_integers(fuzz_engine, dec):
    with pytest.raises(QueryValidationError, match="score_decimals"):
        fuzz_engine.search_with_aggs(
            {"match": {"text": "alpha"}},
            {"best": {"top_hits": {"group_by": "text", "score_decimals": dec}}},
        )


def test_top_hits_score_decimals_accepts_non_negative_integers(fuzz_engine):
    for dec in (0, 6):
        _, aggs = fuzz_engine.search_with_aggs(
            {"match": {"text": "alpha"}},
            {"best": {"top_hits": {"group_by": "text", "size": 1, "score_decimals": dec}}},
        )
        assert aggs["best"].count() == len(DOCS)
