"""Inputs and output checks for the product benchmark.

Everything here is pure Python (no JVM), so it runs in the orchestrating
process outside the timed region:

- ``write_corpus_files`` writes the seeded synthetic corpus as Parquet with
  the same rows, schema and file split as ``sources.synth.write_corpus``;
- ``expected_triples`` is the reference oracle's triple set for a workload;
- ``read_ntriples`` / ``read_parquet_triples`` read the CLI's output back;
- ``compare`` turns got/want into a verdict with precision and recall.
"""

import glob
import json
import os
from typing import Dict, Iterable, List, Set, Tuple

Triple = Tuple[str, str, str, str]

# rows per corpus file in sources.synth.synthesize_corpus
_ROWS_PER_PARTITION = 500


def corpus_partitions(n: int, parallelism: int) -> int:
    """The partition count ``synthesize_corpus`` picks on a session whose
    default parallelism is ``parallelism``."""
    dp = max(parallelism, 8)
    return max(1, min(dp, -(-n // _ROWS_PER_PARTITION)))


def write_corpus_files(path: str, n: int, seed: int, parallelism: int) -> None:
    """Write ``gen_rows(n, seed)`` the way ``write_corpus`` lays it out: one
    Parquet file per ``spark.range(0, n, 1, p)`` slice, rows in id order,
    plus the ``_SUCCESS`` marker.  Spark reads the result as the same
    table; ``selftest.py`` checks that against ``write_corpus`` itself."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from claimskg_generator_spark.sources.synth import INPUT_SCHEMA, make_row

    cols = INPUT_SCHEMA.fieldNames()
    schema = pa.schema([(c, pa.string()) for c in cols])
    p = corpus_partitions(n, parallelism)
    os.makedirs(path, exist_ok=True)
    for i in range(p):
        lo, hi = i * n // p, (i + 1) * n // p
        rows = [make_row(j, seed) for j in range(lo, hi)]
        table = pa.table({c: [r[c] for r in rows] for c in cols},
                         schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy")
    open(os.path.join(path, "_SUCCESS"), "w").close()


def expected_triples(n: int, seed: int) -> Set[Triple]:
    """The reference oracle's triple set for ``gen_records(n, seed)``."""
    from claimskg_generator_spark.oracle import ReferenceOracle
    from claimskg_generator_spark.sources.synth import (
        THESAURUS_ENTRIES,
        gen_records,
    )

    oracle = ReferenceOracle(THESAURUS_ENTRIES)
    oracle.generate(gen_records(n, seed))
    return set(oracle.triples)


def ntriples_lines(triples: Iterable[Triple]) -> Set[str]:
    from claimskg_generator_spark.functions.rdfterms import to_ntriples_line

    return {to_ntriples_line(*t) for t in triples}


def _part_files(path: str) -> List[str]:
    return sorted(f for f in glob.glob(os.path.join(path, "**", "part-*"),
                                       recursive=True)
                  if not os.path.basename(f).startswith("."))


def read_ntriples(path: str) -> List[str]:
    """Every non-empty line of the N-Triples text sink's part files."""
    lines: List[str] = []
    for f in _part_files(path):
        with open(f, encoding="utf-8") as fh:
            lines.extend(line for line in fh.read().split("\n") if line)
    return lines


def read_parquet_triples(path: str) -> List[Triple]:
    import pyarrow.parquet as pq

    rows: List[Triple] = []
    for f in _part_files(path):
        t = pq.read_table(f, columns=["subj", "pred", "obj", "okind"])
        rows.extend(zip(*(t.column(c).to_pylist()
                          for c in ("subj", "pred", "obj", "okind"))))
    return rows


def output_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _part_files(path))


def compare(got: List, want: Set) -> Dict[str, object]:
    """Set-semantics verdict: the output must hold no duplicate rows and
    its distinct set must equal ``want`` (precision = recall = 1)."""
    got_set = set(got)
    tp = len(got_set & want)
    return {
        "ok": len(got) == len(got_set) and got_set == want,
        "rows": len(got),
        "distinct": len(got_set),
        "expected": len(want),
        "precision": tp / len(got_set) if got_set else 0.0,
        "recall": tp / len(want) if want else 0.0,
        "missing_example": sorted(want - got_set)[:1],
        "extra_example": sorted(got_set - want)[:1],
    }


def load_json(path: str):
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)
