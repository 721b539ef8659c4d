from .event_rollup import hourly_rollup_stream  # noqa: F401
from .publish_stream import extraction_stream  # noqa: F401
from .dedup_stream import dedup_events_stream  # noqa: F401
from .sessions_stream import session_stream  # noqa: F401
from .decontam_stream import decontam_screen_stream  # noqa: F401
from .dedup_index_stream import dedup_index_stream, read_stream_pairs  # noqa: F401
