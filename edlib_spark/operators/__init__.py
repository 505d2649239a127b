from .canonicalize import canonicalize, TURN_SEP  # noqa: F401
from .blocking import minhash_blocks  # noqa: F401
from .pairs import candidate_pairs  # noqa: F401
from .scoring import score_pairs, match_edges  # noqa: F401
from .clustering import connected_components, cluster_assignments  # noqa: F401
