import gzip
import json
import os
import sys
from collections import Counter

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXDIR = os.path.join(REPO, "tests", "fixtures")


def load_jsonl(name):
    path = os.path.join(FIXDIR, name)
    opener = gzip.open if name.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


@pytest.fixture(scope="session")
def probe_cases():
    return load_jsonl("probe_cases.jsonl")


@pytest.fixture(scope="session")
def golden_sf0001():
    return load_jsonl("golden_sf0001.jsonl.gz")


@pytest.fixture(scope="session")
def spark():
    """local[*] session with the engine's tuned defaults (plans/session.py)."""
    from html_parser_spark.plans.session import get_spark

    s = get_spark(app_name="pytest", shuffle_partitions=8)
    yield s
    s.stop()


def count_plan_nodes(spark, action):
    """Run ``action()``; return a Counter of plan-graph node names summed
    over every SQL execution it started.  Reads the SQL status store,
    which is kept with ``spark.ui.enabled=false``.  A plan-graph node
    is counted even when it sits under a cache scan whose blocks are
    already stored, so a Python-UDF count bounds the UDF evaluations
    from above; ``localCheckpoint`` leaves no plan behind and does not
    inflate it."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def execution_ids():
        bus.waitUntilEmpty()
        it = store.executionsList().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next().executionId())
        return ids

    before = execution_ids()
    action()
    counts = Counter()
    for eid in execution_ids() - before:
        it = store.planGraph(eid).allNodes().iterator()
        while it.hasNext():
            counts[it.next().name()] += 1
    return counts


@pytest.fixture(scope="session")
def plan_nodes():
    return count_plan_nodes
