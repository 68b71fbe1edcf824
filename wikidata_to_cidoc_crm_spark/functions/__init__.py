from .uris import (  # noqa: F401
    mint,
    pair_key,
    qid_from_uri,
    timespan_uri,
    wd_entity_uri,
)
