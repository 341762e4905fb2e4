"""Encode in-memory postings as real segment rows (the builder's
block layout and varbyte codec), so kernel tests drive the same
decoder the executors run."""

import numpy as np
import pandas as pd

from lucille_spark.codec import encode_ids, encode_u32s


def segment_rows(postings, block: int, no_positions=()) -> pd.DataFrame:
    """-> one row per `block`-doc block of every Posting in
    `postings` (dict term -> Posting), columns as the segments table.
    Doc-id gaps restart at each block's doc_id_base; a term keeps its
    positions unless the Posting has none or it is in `no_positions`
    (its blocks then store null pos_counts, like an index built
    without positions)."""
    rows = []
    for t, p in postings.items():
        keep_pos = p.has_positions() and t not in no_positions
        for b, lo in enumerate(range(0, p.ids.size, block)):
            hi = min(lo + block, p.ids.size)
            ids = p.ids[lo:hi]
            counts = deltas = None
            if keep_pos:
                ps = [p.pos(i) for i in range(lo, hi)]
                counts = encode_u32s([x.size for x in ps])
                deltas = encode_u32s(
                    np.concatenate([np.diff(x, prepend=0) for x in ps])
                )
            rows.append({
                "term": t,
                "block_id": b,
                "doc_id_base": int(ids[0]),
                "doc_id_max": int(ids[-1]),
                "n_docs": hi - lo,
                "ids_delta": encode_ids(ids - ids[0]),
                "tfs": encode_u32s(p.tfs[lo:hi]),
                "dls": encode_u32s(p.dls[lo:hi]),
                "pos_counts": counts,
                "positions": deltas,
                "max_tf": int(p.tfs[lo:hi].max()),
            })
    return pd.DataFrame(rows)
