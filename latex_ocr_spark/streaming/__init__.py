"""Structured Streaming wrappers over the batch extraction path."""

#: Files per micro-batch for the file streams (extraction, near-dedup,
#: decontamination): an ``availableNow`` catch-up over a backlog drains
#: as a sequence of batches of at most this many files instead of one
#: batch holding every pending file.
MAX_FILES_PER_TRIGGER = 64
