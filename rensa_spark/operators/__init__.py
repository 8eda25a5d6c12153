"""DataFrame operators: LSH banding, one-shot duplicate flags, pair
verification, connected components, dedup pipelines, similarity search,
text analysis, image codecs."""
