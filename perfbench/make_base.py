"""Write the benchmark's base tables, slices of the engine's sf0.1 test tables.

    python3 perfbench/make_base.py <directory holding the sf0.1 parquet tables>

The slices land in ``perfbench/data/`` and are committed, so a checkout
can run the benchmark without any data outside it. ``inputs.py`` builds
each run's seeded replicas from them. Rerun only to change the slices:

- orders with ``o_orderkey % 5 = 0`` and the lineitem rows of those orders;
- every customer; events with ``event_id % 5 < 2``;
- the first 1,000 documents (ids stay dense); every embedding.
"""

from __future__ import annotations

import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    src = argv[0]

    def read(name):
        # drop the pandas schema metadata: the slices carry plain Arrow schemas
        return pq.read_table(os.path.join(src, f"{name}.parquet")).replace_schema_metadata(None)

    orders = read("orders")
    orders = orders.filter(orders["o_orderkey"].to_numpy() % 5 == 0)
    lineitem = read("lineitem")
    lineitem = lineitem.filter(pc.is_in(lineitem["l_orderkey"],
                                        value_set=orders["o_orderkey"].combine_chunks()))
    events = read("events")
    events = events.filter(events["event_id"].to_numpy() % 5 < 2)
    documents = read("documents")
    documents = documents.filter(documents["doc_id"].to_numpy() < 1_000)
    tables = {"orders": orders, "lineitem": lineitem, "customer": read("customer"),
              "events": events, "documents": documents, "embeddings": read("embeddings")}
    os.makedirs(DATA, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(DATA, f"{name}.parquet"), compression="zstd")
        print(name, table.num_rows)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
