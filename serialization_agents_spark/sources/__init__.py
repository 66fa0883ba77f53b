from serialization_agents_spark.sources.pages import (  # noqa: F401
    read_authority,
    read_blacklist,
    read_pages,
    read_pages_stream,
    read_redirects,
)
from serialization_agents_spark.sources.bucketed import (  # noqa: F401
    read_bucketed,
    write_bucketed,
)
