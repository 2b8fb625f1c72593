import json
import pathlib

import pytest

FIXTURES = pathlib.Path(__file__).parent / "fixtures"


@pytest.fixture(scope="session")
def example_docs():
    return json.loads((FIXTURES / "example_docs.json").read_text())


@pytest.fixture(scope="session")
def misaligned_word_doc():
    """A Document whose sentence 0 has a ``word`` layer one token longer
    than ``raw``; that extra token must not shift sentence 1's word/norm
    codes."""
    tf = "ai.lum.odinson.TokensField"
    return {
        "id": "misaligned",
        "metadata": [],
        "sentences": [
            {"numTokens": 2, "fields": [
                {"$type": tf, "name": "raw", "tokens": ["a", "b"]},
                {"$type": tf, "name": "word", "tokens": ["a", "b", "x"]},
            ]},
            {"numTokens": 2, "fields": [{"$type": tf, "name": "raw", "tokens": ["c", "d"]}]},
        ],
    }


@pytest.fixture(scope="session")
def spark():
    from odinson_spark.session import get_spark

    s = get_spark(app_name="odinson-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
