from .audit import build_audit  # noqa: F401
from .merge import merge_if_empty  # noqa: F401
from .resume import update_manifest  # noqa: F401
