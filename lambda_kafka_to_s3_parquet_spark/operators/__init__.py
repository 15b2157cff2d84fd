"""Composite operators: dedup, similarity search, multimodal, sinks.

Each module composes stock DataFrame operations into one named operator
with an explicit scale contract (what shuffles, what broadcasts, what is
bucketed) — see the module docstrings for the 100 TB design notes.
"""

from .dedup import (  # noqa: F401
    exact_dedup,
    hamming64,
    latest_by_key,
    migrate_band_store,
    minhash_signatures,
    near_dup_pairs,
    simhash_table,
)
from .bpe import (  # noqa: F401
    encode_corpus,
    learn_bpe,
    learn_bpe_local,
    segment_vocab,
    word_counts,
)
from .multimodal import (  # noqa: F401
    decode_bmp,
    decode_png,
    decode_ppm,
    decode_wav,
    encode_bmp,
    encode_png,
    encode_ppm,
    encode_wav,
    extract_audio_features,
    extract_features,
    extract_image_features,
    media_frame,
    resize_images,
    resize_ppm,
    transcode_images,
)
from .packing import pack_sequences, pack_token_ids  # noqa: F401
from .similarity import (  # noqa: F401
    near_dup_within_label,
    topk_bruteforce,
    topk_lsh,
)
from .retrieval import bm25_topk_indexed, build_bm25_index  # noqa: F401
from .vector_index import (  # noqa: F401
    build_ivf_index,
    build_pq_index,
    check_index_fresh,
    load_pq_index,
    topk_ivf_indexed,
    topk_pq_indexed,
)
from .curate import curate_corpus, curate_with_audit  # noqa: F401
from .ivm import incremental_view_refresh, read_view  # noqa: F401
from .sink import (  # noqa: F401
    read_partition,
    with_partition_columns,
    write_clustered,
    write_partitioned,
)
from .timeseries import resample, time_bucket  # noqa: F401
from .funnel import funnel_counts, funnel_reach  # noqa: F401
from .retention import cohort_retention  # noqa: F401
from .cdc import lookup_current_state, read_current_state  # noqa: F401
from .lm import dsir_select, importance_weights  # noqa: F401
from .snapshots import (  # noqa: F401
    SnapshotConflictError,
    snapshot_append,
    snapshot_branch,
    snapshot_branches,
    snapshot_delete_keys,
    snapshot_delete_where,
    snapshot_describe,
    snapshot_drop_branch,
    snapshot_drop_column,
    snapshot_expire,
    snapshot_fast_forward,
    snapshot_history,
    snapshot_maintain,
    snapshot_merge_into,
    snapshot_overwrite_all,
    snapshot_overwrite_partitions,
    snapshot_read,
    snapshot_rename_column,
    snapshot_respec,
    snapshot_rewrite,
    snapshot_rollback,
    snapshot_row_changes,
    snapshot_tag,
    snapshot_tags,
)
