from .exact import content_hash_col, exact_duplicate_groups
from .expand import expand_pairs_through_reps
from .verify import verify_candidates
from .connected_components import connected_components

__all__ = [
    "content_hash_col",
    "exact_duplicate_groups",
    "expand_pairs_through_reps",
    "verify_candidates",
    "connected_components",
]
