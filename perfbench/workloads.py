"""Workload registry: name -> Workload class."""

from perfbench.curation import Curation
from perfbench.relational import Relational
from perfbench.streaming import Streaming

WORKLOADS = {w.name: w for w in (Relational, Curation, Streaming)}
