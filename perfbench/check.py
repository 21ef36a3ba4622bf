"""Output checks, run after each CLI process has exited (outside the timed
region).  Each returns a list of problems; an empty list is a pass.

``report_diag`` is compared with ``golden/report_diag.json``: the
canonical ``summary.json`` (keys sorted) and the workbook's sheet names
with their row counts, as the package wrote them for the committed
fixture, which the workload reads unchanged.

``training_export`` inputs vary with the seed, so its checks are
relations that must hold for any corpus: ``run.json`` counts against the
input and against the row counts of the parquet and tar files written,
at most one document kept of each set of identical texts, and every
index-store table and health metric present.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import zipfile

import pyarrow.dataset as ds

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "golden", "report_diag.json")
_TOKEN = re.compile(r"[a-z0-9]+")
HEALTH_KEYS = ("list_size_max", "list_size_mean", "list_size_p99", "max_over_target",
               "n_lists", "n_vectors", "p99_over_target", "sq_at_rail_rate",
               "target_list_size")


def xlsx_sheets(path: str) -> list[list]:
    """[[sheet name, number of <row> elements], ...] in workbook order."""
    with zipfile.ZipFile(path) as zf:
        book = zf.read("xl/workbook.xml").decode()
        rels = zf.read("xl/_rels/workbook.xml.rels").decode()
        targets = dict(re.findall(r'<Relationship[^>]*Id="([^"]+)"[^>]*Target="([^"]+)"', rels))
        out = []
        for name, rid in re.findall(r'<sheet [^>]*name="([^"]+)"[^>]*r:id="([^"]+)"', book):
            xml = zf.read("xl/" + targets[rid].lstrip("/").removeprefix("xl/")).decode()
            out.append([name, len(re.findall(r"<row[ >]", xml))])
    return out


def report_outputs(out_dir: str) -> dict:
    """The report's canonical summary and sheet table, as stored in the golden."""
    books = sorted(glob.glob(os.path.join(out_dir, "*_astra_chart.xlsx")))
    if len(books) != 1:
        raise FileNotFoundError(f"expected one workbook in {out_dir}, found {books}")
    with open(os.path.join(out_dir, "summary.json")) as fh:
        summary = json.load(fh)
    return {"xlsx": os.path.basename(books[0]), "summary": summary,
            "sheets": xlsx_sheets(books[0])}


def check_report(out_dir: str) -> list[str]:
    with open(GOLDEN) as fh:
        golden = json.load(fh)
    try:
        got = report_outputs(out_dir)
    except (OSError, ValueError, KeyError, zipfile.BadZipFile) as exc:
        return [f"report outputs unreadable: {exc!r}"]
    problems = []
    if got["xlsx"] != golden["xlsx"]:
        problems.append(f"workbook name {got['xlsx']} != {golden['xlsx']}")
    if got["sheets"] != golden["sheets"]:
        problems.append(f"sheets {got['sheets']} != {golden['sheets']}")
    if json.dumps(got["summary"], sort_keys=True) != json.dumps(golden["summary"], sort_keys=True):
        keys = sorted(k for k in set(got["summary"]) | set(golden["summary"])
                      if got["summary"].get(k) != golden["summary"].get(k))
        problems.append(f"summary.json differs from golden in keys {keys}")
    return problems


def _rows(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows()


def check_training(out_dir: str, corpus_dir: str) -> list[str]:
    docs = ds.dataset(os.path.join(corpus_dir, "documents.parquet"), format="parquet").to_table(
        columns=["doc_id", "text"])
    n_docs = docs.num_rows
    # doc id -> the first doc id with the same text
    first: dict[str, int] = {}
    copy_of = {i: first.setdefault(t, i) for i, t in zip(docs["doc_id"].to_pylist(),
                                                         docs["text"].to_pylist())}
    try:
        with open(os.path.join(out_dir, "run.json")) as fh:
            run = json.load(fh)
        corpus, shards, wds, store = (run["corpus"], run["shards"], run["webdataset"],
                                      run["index_store"])
        kept_table = ds.dataset(corpus["kept_path"], format="parquet").to_table(
            columns=["doc_id", "text"])
        kept = kept_table["doc_id"].to_pylist()
        # the packer's tokens: lower-cased [a-z0-9]+ runs; a kept document
        # whose text span trimming emptied has none and is not packed
        n_tok = [len(_TOKEN.findall((t or "").lower())) for t in kept_table["text"].to_pylist()]
        rejected = ds.dataset(corpus["rejects_path"], format="parquet").to_table(
            columns=["doc_id"])["doc_id"].to_pylist()
        manifest = ds.dataset(shards["manifest_path"], format="parquet").to_table()
        wds_manifest = ds.dataset(wds["manifest_path"], format="parquet").to_table()
        n_tars = len(glob.glob(os.path.join(wds["shards_path"], "*.tar")))
        table_rows = {t: _rows(os.path.join(store["location"], t)) for t in store["tables"]}
        expect = {
            "corpus.n_docs": (corpus["n_docs"], n_docs),
            "corpus_kept rows": (len(kept), corpus["n_kept"]),
            "kept + rejected docs": (len(set(kept) | set(rejected)), n_docs),
            "kept and rejected overlap": (len(set(kept) & set(rejected)), 0),
            "distinct kept doc ids": (len(set(kept)), len(kept)),
            "identical texts kept twice": (
                len(kept) - len({copy_of[i] for i in kept}), 0),
            "shards.n_docs": (shards["n_docs"], sum(n > 0 for n in n_tok)),
            "shards rows": (_rows(shards["shards_path"]), shards["n_docs"]),
            "manifest rows": (manifest.num_rows, shards["n_shards"]),
            "manifest n_seqs": (sum(manifest["n_seqs"].to_pylist()), shards["n_seqs"]),
            "manifest n_docs": (sum(manifest["n_docs"].to_pylist()), shards["n_docs"]),
            "manifest n_tokens": (sum(manifest["n_tokens"].to_pylist()), sum(n_tok)),
            "webdataset.n_docs": (wds["n_docs"], corpus["n_kept"]),
            "webdataset manifest rows": (wds_manifest.num_rows, wds["n_shards"]),
            "webdataset manifest n_docs": (sum(wds_manifest["n_docs"].to_pylist()), wds["n_docs"]),
            "webdataset tar files": (n_tars, wds["n_shards"]),
            "digest_dim rows": (table_rows["digest_dim"], n_docs),
            "index n_vectors": (store["health"]["n_vectors"], table_rows["ann_ivf_lists"]),
            "ann_sq_store rows": (table_rows["ann_sq_store"], table_rows["ann_ivf_lists"]),
            "index health keys": (sorted(store["health"]), sorted(HEALTH_KEYS)),
        }
    except (OSError, ValueError, KeyError) as exc:
        return [f"training outputs unreadable: {exc!r}"]
    problems = [f"{what}: {got!r} != {want!r}" for what, (got, want) in expect.items()
                if got != want]
    if shards["n_seqs"] <= 0 or shards["n_shards"] <= 0:
        problems.append(f"empty training shards: {shards}")
    problems += [f"index table {t} is empty" for t, n in table_rows.items() if n == 0]
    problems += [f"index health {k} = {v!r}" for k, v in store["health"].items()
                 if not (isinstance(v, (int, float)) and math.isfinite(v))]
    return problems
