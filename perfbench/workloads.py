"""The benchmark's workloads: inputs, entry-point call, output checks and
the traced decomposition of that call.

Each workload class has

- ``prepare()`` (once per run): write the seeded inputs and compute the
  expected output counts independently of the program (DuckDB oracle
  SQL, or the generator's own tree arithmetic); ``load()`` (in each job
  process) reads them back;
- ``build(spark)``: one call of the public entry point, as the CLI makes
  it; returns the entry point's statistics dict;
- ``check(stats)``: the list of mismatches against the expected counts;
- ``traced(spark, tracer)``: the same work as ``build``, split into one
  span per public layer function, returning statistics of the same shape
  so the two can be compared; ``finish_trace(tracer)`` adds what is
  measured outside the spans, and ``check_written`` checks any write the
  decomposition made.
"""

from __future__ import annotations

import json
import os

import gen

ONT = "urn:ontology:"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
BUCKETS = 32  # resume.DEFAULT_BUCKETS: every committed write has them all


def _counts(rows) -> dict:
    return {r["pred"]: int(r["n"]) for r in rows}


def _diameter(edges) -> int:
    """Longest shortest path, in edges, between two nodes of the directed
    graph ``edges`` ((parent, child) pairs); 0 for no edges."""
    children: dict = {}
    for p, c in edges:
        children.setdefault(p, set()).add(c)
    longest = 0
    for src in children:
        seen = {src}
        frontier = [src]
        dist = 0
        while True:
            reached = []
            for n in frontier:
                for c in children.get(n, ()):
                    if c not in seen:
                        seen.add(c)
                        reached.append(c)
            if not reached:
                break
            dist += 1
            frontier = reached
        longest = max(longest, dist)
    return longest


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring hidden/commit files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Workload:
    """Shared input bookkeeping: ``prepare()`` runs once per benchmark run
    and saves the input size and expected counts; each job process
    ``load()``s them."""

    # spans of the traced run that the entry point's own call does not make
    WRITE_LEG: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed

    def _saved(self) -> str:
        return os.path.join(self.work, "expected.json")

    def prepare(self) -> None:
        self.input_rows, self.expected = self.generate()
        with open(self._saved(), "w") as f:
            json.dump({"input_rows": self.input_rows, "expected": self.expected}, f)

    def load(self) -> None:
        with open(self._saved()) as f:
            saved = json.load(f)
        self.input_rows, self.expected = saved["input_rows"], saved["expected"]

    def check_written(self, spark, stats: dict) -> list[str]:
        return []

    def finish_trace(self, tr) -> None:
        """After the traced decomposition and outside its timing: take the
        closure's rounds from a second call with ``stats=``, which adds a
        count job per round that the entry point does not run, then drop
        the decomposition's cached frames."""
        from kgforge import graph

        closure_stats: dict = {}
        graph.transitive_closure(self.closure_input, stats=closure_stats)
        for s in tr.spans:
            if s["name"] == "graph.transitive_closure":
                s["rounds"] = closure_stats["rounds"]
        for df in self.cached:
            df.unpersist()


class KgChatty(Workload):
    """``run_pipeline(sf_dir, closure_edge_mod=20)`` without ``out_dir``:
    the CLI's statistics-only run over a conversation-replicated corpus."""

    name = "kg_chatty"
    # base corpus: orders -> 1-7 turns each; every conversation is then
    # replicated under new order keys, so edges, closure and triples are
    # those of the base corpus while scan/extract/link work scales
    SIZES = {"n_orders": 1500, "n_parts": 1000, "n_suppliers": 50, "replicas": 4}
    CLOSURE_EDGE_MOD = 20
    # The closure's rounds follow the diameter (longest shortest path) of
    # its sampled edges, which varies from draw to draw (3 to 7 over ten
    # seeds): one round more is a few more jobs in every call. So the
    # inputs of every seed have this diameter; a seed whose draw has
    # another one draws again from its next sub-stream.
    CLOSURE_DIAMETER = 3
    MAX_DRAWS = 32

    @property
    def sf_dir(self) -> str:
        return os.path.join(self.work, "sf")

    def generate(self) -> tuple[int, dict]:
        for draw in range(self.MAX_DRAWS):
            rows = gen.write_sf_dir(self.sf_dir, (self.seed, draw), **self.SIZES)
            con = self._oracle_db()
            try:
                if _diameter(con.sql(self._closure_input_sql()).fetchall()) == self.CLOSURE_DIAMETER:
                    return rows, self._oracle(con)
            finally:
                con.close()
        raise RuntimeError(f"no draw of seed {self.seed} has closure diameter {self.CLOSURE_DIAMETER}")

    def _oracle_db(self):
        """A DuckDB connection over the generated tables."""
        import duckdb

        con = duckdb.connect()
        for t in ("lineitem", "part", "supplier"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        # referenced by fixture CTEs the checked queries never read
        con.sql("CREATE TABLE orders (o_custkey BIGINT, o_orderkey BIGINT, o_orderstatus VARCHAR, o_orderdate TIMESTAMP)")
        con.sql("CREATE TABLE events (event_id BIGINT, event_type VARCHAR, user_id BIGINT, ts TIMESTAMP)")
        return con

    def _closure_input_sql(self, query: str = "SELECT parent, child FROM cin", extra_ctes: str = "") -> str:
        """Oracle SQL over ``cin``, the edges ``run_pipeline`` samples
        for the closure (``closure_edge_mod``)."""
        from kgforge import oracle

        mod = self.CLOSURE_EDGE_MOD
        return oracle.with_linking(
            query,
            extra_ctes=f"""
cin AS (SELECT parent, child FROM edges
        WHERE (CAST(parent AS BIGINT) + CAST(child AS BIGINT)) % {mod} = 0){extra_ctes}""",
        )

    def _oracle(self, con) -> dict:
        """Per-predicate triple counts and the edge count from the DuckDB
        oracle SQL of ``kgforge.gate`` (plus a recursive-CTE closure over
        the same sampled edge subset), run on the generated tables."""
        from kgforge import gate, oracle

        def count_by_pred(sql: str) -> dict:
            df = con.sql(sql).df()
            return df.groupby("pred").size().astype(int).to_dict()

        counts: dict[str, int] = {}
        tc = con.sql(gate.ORACLES["triple_counts"]).df()
        for fam in (
            dict(zip(tc["pred"], tc["n"].astype(int))),
            count_by_pred(gate.ORACLES["document_triples"]),
            count_by_pred(gate.ORACLES["canonical_equivalence_triples"]),
        ):
            for k, v in fam.items():
                counts[k] = counts.get(k, 0) + int(v)
        closure_sql = self._closure_input_sql(
            "SELECT count(*) FROM clo",
            """,
clo AS (SELECT parent, child FROM cin
        UNION
        SELECT clo.parent, cin.child FROM clo JOIN cin ON clo.child = cin.parent)""",
        )
        n_closure = con.sql(closure_sql).fetchone()[0]
        if n_closure:
            counts[ONT + "partOfAssembly"] = int(n_closure)
        n_edges = con.sql(oracle.with_linking("SELECT count(*) FROM edges")).fetchone()[0]
        return {"per_predicate": counts, "n_edges": int(n_edges)}

    def build(self, spark) -> dict:
        from kgforge import pipeline

        return pipeline.run_pipeline(spark, self.sf_dir, closure_edge_mod=self.CLOSURE_EDGE_MOD)

    def check(self, stats: dict) -> list[str]:
        bad = []
        if stats["per_predicate"] != self.expected["per_predicate"]:
            bad.append(f"per_predicate {stats['per_predicate']} != oracle {self.expected['per_predicate']}")
        if stats["n_edges"] != self.expected["n_edges"]:
            bad.append(f"n_edges {stats['n_edges']} != oracle {self.expected['n_edges']}")
        if stats["total_triples"] != sum(stats["per_predicate"].values()):
            bad.append("total_triples != sum of per-predicate counts")
        return bad

    def traced(self, spark, tr) -> dict:
        """``pipeline.build_graph`` + ``run_pipeline`` (no out_dir), one
        span per layer call."""
        from pyspark.sql import functions as F

        from kgforge import canonicalize, extract, fixtures, graph, linking, materialize

        sf = self.sf_dir
        transcripts = tr.df("fixtures.load_transcripts", lambda: fixtures.load_transcripts(spark, sf))
        entities = tr.df("fixtures.load_entities", lambda: fixtures.load_entities(spark, sf))
        mentions = tr.df("extract.extract_mentions", lambda: extract.extract_mentions(transcripts))
        with tr.span("linking.link_mentions") as ex:
            linked = linking.link_mentions(mentions, entities).cache()
            n_linked, n_resolved = linked.agg(
                F.count("*"), F.sum((F.col("status") == "resolved").cast("long"))
            ).first()
            ex["rows_out"] = n_linked
            ex["resolved"] = int(n_resolved or 0)
        edges = tr.df("graph.bom_edges_from_linked", lambda: graph.bom_edges_from_linked(linked))
        n_edges = tr.spans[-1]["rows_out"]
        mod = self.CLOSURE_EDGE_MOD
        self.closure_input = edges.filter(
            (F.col("parent").cast("bigint") + F.col("child").cast("bigint")) % mod == 0
        )
        closure = tr.df("graph.transitive_closure", lambda: graph.transitive_closure(self.closure_input))
        alt = tr.df("fixtures.load_alternate_links", lambda: fixtures.load_alternate_links(spark, sf))
        desc = tr.df("fixtures.load_describe_links", lambda: fixtures.load_describe_links(spark, sf))
        canon = tr.df("canonicalize.assign_canonical_iris", lambda: canonicalize.assign_canonical_iris(entities))
        triples = tr.df(
            "materialize.union_triples",
            lambda: materialize.union_triples(
                materialize.part_triples(entities),
                materialize.bom_triples(edges),
                materialize.used_in_triples(edges),
                materialize.part_of_assembly_triples(closure),
                materialize.alternate_triples(alt),
                materialize.describe_triples(desc),
                materialize.document_triples(desc),
                materialize.canonical_equivalence_triples(canon),
            ),
        )
        with tr.span("materialize.triple_counts"):
            counts = _counts(materialize.triple_counts(triples).collect())
        stats = {
            "total_triples": sum(counts.values()),
            "per_predicate": counts,
            "n_edges": n_edges,
        }
        self.cached = (transcripts, entities, mentions, linked, edges, closure, alt, desc, canon, triples)
        return stats


class BomImport(Workload):
    """``import_workbook(xlsx)``: the CLI's ``--excel`` import of a
    generated Windchill-shaped workbook with a deep tree-shaped BOM."""

    name = "bom_import"
    SIZES = {
        "n_assemblies": 1500,
        "max_depth": 24,
        "n_fasteners": 12,
        "fasteners_per_assembly": 2,
        "n_alternates": 200,
        "n_describes": 300,
    }

    WRITE_LEG = ("resume.write_triples_resumable", "materialize.write_ntriples")

    @property
    def xlsx(self) -> str:
        return os.path.join(self.work, "workbook.xlsx")

    def generate(self) -> tuple[int, dict]:
        truth = gen.write_workbook(self.xlsx, self.seed, **self.SIZES)
        return truth["bom_rows"], truth

    def build(self, spark) -> dict:
        from kgforge import pipeline

        return pipeline.import_workbook(spark, self.xlsx)

    def check(self, stats: dict) -> list[str]:
        t = self.expected
        want = {
            ONT + "hasComponent": t["edges"],
            ONT + "usedIn": t["edges"],
            ONT + "partOfAssembly": t["closure"],
            ONT + "hasAlternate": t["alternates"],
            ONT + "describes": t["describes"],
            RDF_TYPE: t["parts"] + t["describes"],  # one document per describe row
        }
        got = stats["per_predicate"]
        bad = [f"{k}: {got.get(k)} != {v}" for k, v in want.items() if got.get(k) != v]
        if stats["n_parts"] != t["parts"]:
            bad.append(f"n_parts {stats['n_parts']} != {t['parts']}")
        if stats["n_edges"] != t["edges"]:
            bad.append(f"n_edges {stats['n_edges']} != {t['edges']}")
        if stats["total_triples"] != sum(got.values()):
            bad.append("total_triples != sum of per-predicate counts")
        return bad

    def traced(self, spark, tr) -> dict:
        """``pipeline.import_workbook`` with an ``out_dir``, one span per
        layer call. The untraced benchmark call does not write; the write
        leg here gives the ``resume`` and ``write_ntriples`` layer numbers
        and is checked against the manifest and a read-back."""
        from kgforge import graph, materialize, resume, sources

        x = self.xlsx
        parts = tr.df("sources.read_excel_parts", lambda: sources.read_excel_parts(spark, x))
        n_parts = tr.spans[-1]["rows_out"]
        edges = tr.df("sources.read_excel_bom_edges", lambda: sources.read_excel_bom_edges(spark, x))
        n_edges = tr.spans[-1]["rows_out"]
        self.closure_input = edges
        closure = tr.df("graph.transitive_closure", lambda: graph.transitive_closure(edges))
        alt = tr.df("sources.read_excel_alternates", lambda: sources.read_excel_alternates(spark, x))
        desc = tr.df("sources.read_excel_describe_links", lambda: sources.read_excel_describe_links(spark, x))
        triples = tr.df(
            "materialize.union_triples",
            lambda: materialize.union_triples(
                materialize.part_triples(parts),
                materialize.bom_triples(edges),
                materialize.used_in_triples(edges),
                materialize.part_of_assembly_triples(closure),
                materialize.alternate_triples(alt),
                materialize.describe_triples(desc),
                materialize.document_triples(desc),
            ).dropDuplicates(["subj", "pred", "obj"]),
        )
        with tr.span("materialize.triple_counts"):
            counts = _counts(materialize.triple_counts(triples).collect())
        out = self.out_dir = os.path.join(self.work, "out")
        with tr.span("resume.write_triples_resumable") as ex:
            self.manifest = resume.write_triples_resumable(triples, out, lineage=f"excel={x}")
            ex["files_out"], ex["bytes_out"] = _dir_stats(os.path.join(out, "triples"))
        with tr.span("materialize.write_ntriples") as ex:
            materialize.write_ntriples(triples, os.path.join(out, "ntriples"))
            ex["files_out"], ex["bytes_out"] = _dir_stats(os.path.join(out, "ntriples"))
        self.cached = (parts, edges, closure, alt, desc, triples)
        return {
            "n_parts": n_parts,
            "n_edges": n_edges,
            "total_triples": sum(counts.values()),
            "per_predicate": counts,
        }

    def check_written(self, spark, stats: dict) -> list[str]:
        """The traced write committed every bucket, and reading the
        table back gives ``total_triples`` rows."""
        from kgforge import resume

        bad = []
        n_committed = len(self.manifest["committed"])
        if n_committed != BUCKETS:
            bad.append(f"manifest has {n_committed} buckets, not {BUCKETS}")
        n_back = resume.read_triples(spark, self.out_dir).count()
        if n_back != stats["total_triples"]:
            bad.append(f"read_triples count {n_back} != total_triples {stats['total_triples']}")
        return bad


WORKLOADS = {w.name: w for w in (KgChatty, BomImport)}
