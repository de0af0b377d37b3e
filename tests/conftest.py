from __future__ import annotations

import contextlib
import sys
from dataclasses import dataclass
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from video_duplicate_finder_python_spark import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="vdf-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus():
    from video_duplicate_finder_python_spark.corpus import generate_corpus

    return generate_corpus(seed=42, n_docs=240)


@pytest.fixture(scope="session")
def oracle_result(corpus):
    from video_duplicate_finder_python_spark.oracle import run_oracle

    return run_oracle(corpus.pages, corpus.truth_pairs)


@pytest.fixture(scope="session")
def pipeline_result(spark, corpus):
    from video_duplicate_finder_python_spark import DedupConfig, DedupPipeline
    from video_duplicate_finder_python_spark.corpus import pages_spark_df

    pages = pages_spark_df(spark, corpus)
    return DedupPipeline(spark, DedupConfig()).run(pages)


@dataclass
class PlanGraph:
    """The final physical plan of one SQL execution, as the SQL status
    store holds it (AQE re-plans included): node id → ``(name, desc)``,
    and each node's consumers (a reused exchange has several)."""

    description: str
    nodes: dict[int, tuple[str, str]]
    parents: dict[int, list[int]]

    def named(self, name: str) -> list[int]:
        return [i for i, (n, _) in self.nodes.items() if n.strip() == name]

    def broadcast_consumers(self, projected: str) -> list[int]:
        """For each projection whose description holds ``projected``, the
        number of joins its broadcast feeds (a reused broadcast feeds
        several)."""
        out = []
        for i in self.named("Project"):
            if projected in self.nodes[i][1]:
                (bx,) = self.parents[i]
                assert self.nodes[bx][0] == "BroadcastExchange", self.nodes[bx]
                out.append(len(self.parents[bx]))
        return out


@pytest.fixture
def sql_plans(spark):
    """``with sql_plans() as plans:`` — after the block, ``plans`` holds a
    ``PlanGraph`` per SQL execution started inside it (lazy-checkpoint
    cuts and actions alike). Read from the status store on the driver,
    so collecting them runs no job."""
    store = spark._jsparkSession.sharedState().statusStore()

    def ids() -> set[int]:
        lst = store.executionsList()
        return {lst.apply(i).executionId() for i in range(lst.size())}

    @contextlib.contextmanager
    def collect():
        before = ids()
        plans: list[PlanGraph] = []
        yield plans
        # the status store is fed by the listener bus, asynchronously
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        for e in sorted(ids() - before):
            g = store.planGraph(e)
            ns, es = g.allNodes(), g.edges()
            nodes = {
                ns.apply(i).id(): (ns.apply(i).name(), ns.apply(i).desc())
                for i in range(ns.size())
            }
            parents: dict[int, list[int]] = {}
            for i in range(es.size()):
                parents.setdefault(es.apply(i).fromId(), []).append(es.apply(i).toId())
            plans.append(
                PlanGraph(store.execution(e).get().description(), nodes, parents)
            )

    return collect
