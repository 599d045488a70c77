from .cdc import (  # noqa: F401
    derive_changelog, consolidate, apply_changes, merge_changelog, cdc_merge,
)
from .components import connected_components  # noqa: F401
from .dedup import containment, decontaminate, exact_dedup  # noqa: F401
from .mixing import quota_select  # noqa: F401
from .similarity import ivf_pq_topk, pq_adc_topk  # noqa: F401
from .skew import salted_join  # noqa: F401
