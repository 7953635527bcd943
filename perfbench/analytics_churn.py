"""analytics_churn: registry analytics queries beside writes and reads on
one manifest table -- every layer outside the codec.

A pass runs the analytics queries (:mod:`perfbench.analytics_mix`: the
``operators`` layer, Catalyst and job scheduling) in a seed-rotated
order, then one churn cycle on the table (:mod:`perfbench.table_churn`:
``sources`` and ``streaming``).  ``write_*`` and ``read_*`` are the
table's upserts and point reads; the queries count toward ``pass_s``
and ``rows_per_s``.  The workload never touches ``codec/`` or
``functions/``.
"""

from __future__ import annotations

from . import gen
from .analytics_mix import Queries
from .table_churn import Churn


class Workload:
    def __init__(self, ctx):
        self.queries = Queries(ctx)
        self.table = Churn(ctx)

    def generate(self) -> str:
        return gen.digest([self.queries.generate(), self.table.generate()])

    def load(self) -> None:
        self.queries.load()
        self.table.load()

    def ops(self) -> list:
        return self.queries.ops() + self.table.ops()

    def final_checks(self) -> list:
        return self.table.final_checks()

    def end_metrics(self) -> dict:
        return self.table.end_metrics()

    def layer_counters(self, pass_no: int) -> dict:
        return self.table.layer_counters(pass_no)
