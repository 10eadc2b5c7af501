"""Input preparation, run in a child process so that its memory and time
stay out of the measured process.

    python3 benchmark/prepare.py dashboard <out_dir> <seed>
    python3 benchmark/prepare.py nightly_etl <out_dir> <seed>

``dashboard`` writes the query tables and ``oracle.json``: for each bench
query, the hash of the DuckDB oracle's normalized result, plus the size of
the synthetic message stream the chat-pipeline queries derive. The
``nightly_etl`` mode writes the chat-replay landing zone and
``expected.json``. Both write ``.done`` last; a directory without it is
incomplete and is rebuilt.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from holochatstats_spark.operators.synth import with_synth_ctes  # noqa: E402
from holochatstats_spark.queries import load_all_queries  # noqa: E402
from holochatstats_spark.testing import duck_connection, normalize  # noqa: E402

import gen_chat  # noqa: E402
import gen_tables  # noqa: E402

DASHBOARD_SF = 0.01
MESSAGES_PER_VIDEO = 2000
DONE = ".done"


def result_hash(cols, rows) -> str:
    """Order-insensitive hash of a query result (column names + rows)."""
    body = repr((sorted(cols), normalize(rows, list(cols))))
    return hashlib.sha256(body.encode("utf-8")).hexdigest()


#: The dashboard's requests: the 19 bench-tagged queries of ``bench.py``.
DASHBOARD_QUERIES = (
    "a1_user_data",
    "chat_leaderboard",
    "daily_event_rollup",
    "doc_token_stats",
    "embedding_neardup_lsh",
    "ewm_forecast",
    "knn_cosine",
    "membership_summary_gold",
    "minhash_lsh_pairs",
    "monthly_revenue_diff",
    "multimodal_features",
    "overlap_matrix",
    "pricing_summary",
    "recommend_topk",
    "shipping_priority",
    "simhash_neardup_pairs",
    "tfidf_lang_similarity",
    "type_cosine_similarity",
    "velocity_bursts_exact",
)


def prepare_dashboard(out_dir: str, seed: int) -> None:
    gen_tables.write_tables(out_dir, seed, DASHBOARD_SF)
    registry = load_all_queries()
    con = duck_connection(out_dir)
    hashes = {}
    for name in DASHBOARD_QUERIES:
        res = con.execute(registry[name].oracle)
        hashes[name] = result_hash([d[0] for d in res.description], res.fetchall())
    n_msgs, n_routed = con.execute(
        with_synth_ctes(
            "SELECT count(*), count(*) FILTER (WHERE message_category IS NULL"
            " AND message_type NOT IN ('new_member', 'gift_member')) FROM msgs"
        )
    ).fetchone()
    with open(os.path.join(out_dir, "oracle.json"), "w") as f:
        json.dump(
            {"hashes": hashes, "synth_messages": n_msgs, "synth_routed": n_routed}, f
        )


def prepare_nightly_etl(out_dir: str, seed: int) -> None:
    exp = gen_chat.write_landing(os.path.join(out_dir, "landing"), seed, MESSAGES_PER_VIDEO)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        f.write(exp.to_json())


def main(argv: list[str]) -> None:
    if len(argv) != 3 or argv[0] not in ("dashboard", "nightly_etl"):
        raise SystemExit("usage: prepare.py {dashboard|nightly_etl} <out_dir> <seed>")
    mode, out_dir, seed = argv[0], argv[1], int(argv[2])
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    (prepare_dashboard if mode == "dashboard" else prepare_nightly_etl)(out_dir, seed)
    open(os.path.join(out_dir, DONE), "w").close()


if __name__ == "__main__":
    main(sys.argv[1:])
