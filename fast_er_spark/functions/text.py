"""Text-analysis Columns — no Python UDFs.

Token counting, quality scoring and the Gopher rules are Spark built-in
expressions. ``text_stats``, ``rolling_fingerprint``, ``lang_marker_counts``
and ``lang_id_ngram`` run compiled one-pass kernels (jvm/TextUdfs.java) and
register them on the active session; their expression and Python twins live
in oracle/kernels.py. Each oracled query has an exact ANSI-SQL twin used by
the driver's DuckDB oracle (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from .jvm_sketch import (
    ensure_jvm_udfs,
    marker_counts_jvm,
    ngram_lang_id_jvm,
    rolling_fp_jvm,
    text_stats_jvm,
)

__all__ = [
    "gopher_stats",
    "GOPHER_STOPWORDS",
    "ngram_lang_profiles",
    "ngram_profile_spec",
    "predict_lang_ngram_py",
    "lang_id_ngram",
    "NGRAM_SEED_TEXTS",
    "tokens",
    "token_count",
    "distinct_token_count",
    "punct_ratio",
    "stopword_ratio",
    "quality_score",
    "quality_score_from_stats",
    "lang_marker_score",
    "lang_marker_counts",
    "marker_spec",
    "rolling_fingerprint",
    "text_stats",
    "STOPWORDS_EN",
    "FP_MOD",
    "FP_BASE",
]

STOPWORDS_EN = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

FP_MOD = 1_000_000_007
FP_BASE = 31


def tokens(col: Column) -> Column:
    """Whitespace tokens; empty/blank text -> empty array (not [''])."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != F.lit(""))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: Column) -> Column:
    return F.size(F.array_distinct(tokens(col)))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    n = F.length(col)
    stripped = F.length(F.regexp_replace(col, r"[^0-9A-Za-z\s]", ""))
    return F.when(n > 0, (n - stripped) / n).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or STOPWORDS_EN
    tok = tokens(F.lower(col))
    hits = F.size(F.filter(tok, lambda t: t.isin(sw)))
    n = F.size(tok)
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Heuristic [0,1] quality: length band + low punctuation + type/token
    ratio. Deterministic, SQL-twinned; a stand-in for Gopher-style rules."""
    n_tok = token_count(col)
    len_ok = F.when((n_tok >= 5) & (n_tok <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    ttr = F.when(n_tok > 0, distinct_token_count(col) / n_tok).otherwise(F.lit(0.0))
    return F.round((len_ok + (1.0 - punct_ratio(col)) + ttr) / 3.0, 6)


def lang_marker_score(col: Column, markers: list[str]) -> Column:
    """Count of tokens that appear in a language marker list (n-gram-free
    language-ID heuristic; argmax over languages gives the prediction)."""
    return F.size(F.filter(tokens(F.lower(col)), lambda t: t.isin(markers)))


def rolling_fingerprint(col: Column) -> Column:
    """Polynomial rolling hash over the text's code points:
    acc = (acc * 31 + codepoint) mod 1e9+7, one compiled pass per doc
    (jvm/TextUdfs.java::RollingFp). DuckDB twin: list_reduce over
    string_split_regex (see oracle_sql)."""
    ensure_jvm_udfs(SparkSession.active())
    return rolling_fp_jvm(col)


def text_stats(col: Column) -> Column:
    """array<long> [token_count, distinct_token_count, n_chars, n_kept]
    where n_kept counts characters surviving regexp_replace(col,
    "[^0-9A-Za-z\\s]", "") — the four inputs of every text-quality ratio,
    in ONE compiled pass (jvm/TextUdfs.java); null -> null."""
    ensure_jvm_udfs(SparkSession.active())
    return text_stats_jvm(col)


def quality_score_from_stats(stats: Column) -> Column:
    """quality_score recomputed from a text_stats() array — same formula,
    same float operation order, so the two entry points never disagree."""
    n_tok, n_dis, n, kept = stats[0], stats[1], stats[2], stats[3]
    len_ok = F.when((n_tok >= 5) & (n_tok <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    ttr = F.when(n_tok > 0, n_dis / n_tok).otherwise(F.lit(0.0))
    punct = F.when(n > 0, (n - kept) / n).otherwise(F.lit(0.0))
    return F.round((len_ok + (1.0 - punct) + ttr) / 3.0, 6)


# the Gopher rule-set stopword list (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", Appendix A1.1 — public heuristics, re-derived)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


# ------------------------- Cavnar-Trenkle n-gram language identification
# "N-Gram-Based Text Categorization" (Cavnar & Trenkle 1994, public
# method): rank profiles of character 1..3-grams, out-of-place distance.
# Seed corpora below are original sentences written for this repo across
# several everyday registers (narrative, weather/news, instructions,
# technology, travel, sport, family/history, health, city, work/economy)
# — deliberately varied so the rank profiles capture function-word and
# morphology n-grams rather than one story's vocabulary.
# For production-grade routing swap in profiles built from thousands of
# documents per language; the METHOD and kernels are unchanged by that.

NGRAM_SEED_TEXTS = {
    "en": (
        "the quick brown fox jumps over the lazy dog while the children "
        "watch from the garden. it was the best of times and the worst of "
        "times for everyone in the little town. she said that they would "
        "have to wait until the morning train arrived with the letters. "
        "people often think about what they want from life and how they "
        "can get there with the help of their friends. "
        "the weather this week will be cold and windy in the north with "
        "some rain along the coast during the evening hours. heat the oil "
        "in a large pan and add the onions then cook them slowly until "
        "they are soft and golden. the new software update makes the "
        "application faster and fixes several problems that users had "
        "reported over the last months. when you travel to another "
        "country you should always keep your passport and tickets in a "
        "safe place where you can find them quickly. reading books every "
        "day is one of the best ways to learn new words and understand "
        "how other people see the world around them. "
        "the team played well in the second half and scored two goals "
        "before the rain started to fall on the field. runners from many "
        "countries came to the city for the race and thousands of people "
        "stood along the streets to cheer for them. his grandmother told "
        "stories about the old days when the family lived on a farm near "
        "the river and grew their own food. doctors say that sleeping "
        "well and walking every day keep the heart strong and the mind "
        "clear as people grow older. the old bridge in the middle of the "
        "town was built two hundred years ago and it still carries cars "
        "and buses across the water. prices for bread and milk went up "
        "again this year and many families now spend more of their money "
        "on food than before. the company opened a new office in the "
        "city and plans to hire fifty workers during the next two years. "
        "she starts work early in the morning answers letters from "
        "customers and then meets the rest of the team to plan the day."
    ),
    "de": (
        "der schnelle braune fuchs springt über den faulen hund während "
        "die kinder aus dem garten zuschauen. es war die beste und die "
        "schlechteste zeit für alle menschen in der kleinen stadt. sie "
        "sagte dass sie bis zum morgen warten müssen bis der zug mit den "
        "briefen ankommt. die leute denken oft darüber nach was sie vom "
        "leben wollen und wie sie es mit hilfe ihrer freunde erreichen. "
        "das wetter wird in dieser woche im norden kalt und windig mit "
        "etwas regen an der küste in den abendstunden. erhitzen sie das "
        "öl in einer großen pfanne und geben sie die zwiebeln dazu dann "
        "lassen sie sie langsam weich und goldbraun werden. das neue "
        "update macht die anwendung schneller und behebt mehrere fehler "
        "die die nutzer in den letzten monaten gemeldet hatten. wenn man "
        "in ein anderes land reist sollte man den reisepass und die "
        "fahrkarten immer an einem sicheren ort aufbewahren. jeden tag "
        "ein buch zu lesen ist eine der besten möglichkeiten neue wörter "
        "zu lernen und die welt besser zu verstehen. "
        "die mannschaft spielte in der zweiten halbzeit gut und schoss "
        "zwei tore bevor der regen auf das feld fiel. läufer aus vielen "
        "ländern kamen zum rennen in die stadt und tausende menschen "
        "standen an den straßen und jubelten ihnen zu. seine großmutter "
        "erzählte geschichten aus alten zeiten als die familie auf einem "
        "bauernhof am fluss lebte und ihr eigenes essen anbaute. ärzte "
        "sagen dass guter schlaf und tägliche spaziergänge das herz stark "
        "und den kopf klar halten wenn die menschen älter werden. die "
        "alte brücke in der mitte der stadt wurde vor zweihundert jahren "
        "gebaut und trägt noch heute autos und busse über das wasser. die "
        "preise für brot und milch sind in diesem jahr wieder gestiegen "
        "und viele familien geben mehr geld für essen aus als früher. "
        "die firma eröffnete ein neues büro in der stadt und will in den "
        "nächsten zwei jahren fünfzig mitarbeiter einstellen. sie beginnt "
        "früh am morgen mit der arbeit beantwortet briefe von kunden und "
        "trifft dann das team um den tag zu planen."
    ),
    "fr": (
        "le rapide renard brun saute par dessus le chien paresseux pendant "
        "que les enfants regardent depuis le jardin. c'était la meilleure "
        "et la pire des époques pour tous les habitants de la petite "
        "ville. elle a dit qu'ils devraient attendre jusqu'au matin que le "
        "train arrive avec les lettres. les gens pensent souvent à ce "
        "qu'ils veulent de la vie et comment y parvenir avec l'aide de "
        "leurs amis. "
        "le temps sera froid et venteux cette semaine dans le nord avec "
        "quelques pluies sur la côte pendant la soirée. faites chauffer "
        "l'huile dans une grande poêle puis ajoutez les oignons et "
        "laissez les cuire doucement jusqu'à ce qu'ils soient tendres et "
        "dorés. la nouvelle mise à jour rend l'application plus rapide et "
        "corrige plusieurs problèmes que les utilisateurs avaient "
        "signalés ces derniers mois. quand on voyage dans un autre pays "
        "il faut toujours garder son passeport et ses billets dans un "
        "endroit sûr. lire des livres chaque jour est l'un des meilleurs "
        "moyens d'apprendre de nouveaux mots et de comprendre le monde. "
        "l'équipe a bien joué en seconde période et a marqué deux buts "
        "avant que la pluie ne tombe sur le terrain. des coureurs de "
        "nombreux pays sont venus dans la ville pour la course et des "
        "milliers de personnes les encourageaient le long des rues. sa "
        "grand mère racontait des histoires du temps où la famille vivait "
        "dans une ferme près de la rivière et cultivait sa propre "
        "nourriture. les médecins disent que bien dormir et marcher "
        "chaque jour gardent le cœur fort et l'esprit clair quand on "
        "vieillit. le vieux pont au milieu de la ville a été construit il "
        "y a deux cents ans et il porte encore les voitures et les bus au "
        "dessus de l'eau. les prix du pain et du lait ont encore augmenté "
        "cette année et beaucoup de familles dépensent plus d'argent pour "
        "la nourriture qu'avant. l'entreprise a ouvert un nouveau bureau "
        "dans la ville et compte embaucher cinquante personnes dans les "
        "deux prochaines années. elle commence à travailler tôt le matin "
        "répond aux lettres des clients puis rencontre le reste de "
        "l'équipe pour organiser la journée."
    ),
    "es": (
        "el rápido zorro marrón salta sobre el perro perezoso mientras los "
        "niños miran desde el jardín. era el mejor y el peor de los "
        "tiempos para toda la gente del pequeño pueblo. ella dijo que "
        "tendrían que esperar hasta la mañana a que llegara el tren con "
        "las cartas. la gente piensa a menudo en lo que quiere de la vida "
        "y en cómo conseguirlo con la ayuda de sus amigos. "
        "el tiempo esta semana será frío y ventoso en el norte con "
        "algunas lluvias en la costa durante la tarde. calienta el aceite "
        "en una sartén grande y añade las cebollas luego déjalas cocinar "
        "despacio hasta que estén blandas y doradas. la nueva "
        "actualización hace que la aplicación sea más rápida y corrige "
        "varios problemas que los usuarios habían señalado en los últimos "
        "meses. cuando viajas a otro país siempre debes guardar el "
        "pasaporte y los billetes en un lugar seguro donde puedas "
        "encontrarlos. leer libros todos los días es una de las mejores "
        "maneras de aprender palabras nuevas y entender el mundo. "
        "el equipo jugó bien en la segunda parte y marcó dos goles antes "
        "de que la lluvia cayera sobre el campo. corredores de muchos "
        "países llegaron a la ciudad para la carrera y miles de personas "
        "los animaban a lo largo de las calles. su abuela contaba "
        "historias de los viejos tiempos cuando la familia vivía en una "
        "granja junto al río y cultivaba su propia comida. los médicos "
        "dicen que dormir bien y caminar cada día mantienen el corazón "
        "fuerte y la mente clara cuando la gente envejece. el viejo "
        "puente en el centro de la ciudad fue construido hace doscientos "
        "años y todavía lleva coches y autobuses sobre el agua. los "
        "precios del pan y de la leche subieron otra vez este año y "
        "muchas familias gastan ahora más dinero en comida que antes. la "
        "empresa abrió una nueva oficina en la ciudad y piensa contratar "
        "a cincuenta trabajadores durante los próximos dos años. ella "
        "empieza a trabajar temprano por la mañana responde las cartas de "
        "los clientes y luego se reúne con el resto del equipo para "
        "planear el día."
    ),
    "it": (
        "la veloce volpe marrone salta sopra il cane pigro mentre i "
        "bambini guardano dal giardino. era il migliore e il peggiore dei "
        "tempi per tutta la gente della piccola città. lei ha detto che "
        "avrebbero dovuto aspettare fino al mattino che il treno arrivasse "
        "con le lettere. la gente pensa spesso a cosa vuole dalla vita e a "
        "come ottenerlo con l'aiuto dei propri amici. "
        "il tempo questa settimana sarà freddo e ventoso al nord con "
        "qualche pioggia sulla costa durante la sera. scalda l'olio in "
        "una padella grande e aggiungi le cipolle poi lasciale cuocere "
        "lentamente finché non diventano morbide e dorate. il nuovo "
        "aggiornamento rende l'applicazione più veloce e risolve diversi "
        "problemi che gli utenti avevano segnalato negli ultimi mesi. "
        "quando si viaggia in un altro paese bisogna sempre tenere il "
        "passaporto e i biglietti in un posto sicuro. leggere libri ogni "
        "giorno è uno dei modi migliori per imparare parole nuove e "
        "capire il mondo intorno a noi. "
        "la squadra ha giocato bene nel secondo tempo e ha segnato due "
        "gol prima che la pioggia cadesse sul campo. corridori da molti "
        "paesi sono venuti in città per la gara e migliaia di persone li "
        "incoraggiavano lungo le strade. sua nonna raccontava storie dei "
        "vecchi tempi quando la famiglia viveva in una fattoria vicino al "
        "fiume e coltivava il proprio cibo. i medici dicono che dormire "
        "bene e camminare ogni giorno mantengono il cuore forte e la "
        "mente chiara quando si invecchia. il vecchio ponte nel centro "
        "della città fu costruito duecento anni fa e porta ancora le "
        "macchine e gli autobus sopra l'acqua. i prezzi del pane e del "
        "latte sono saliti di nuovo quest'anno e molte famiglie spendono "
        "ora più soldi per il cibo di prima. l'azienda ha aperto un nuovo "
        "ufficio in città e vuole assumere cinquanta persone nei prossimi "
        "due anni. lei comincia a lavorare presto la mattina risponde "
        "alle lettere dei clienti e poi incontra il resto della squadra "
        "per organizzare la giornata."
    ),
    "pt": (
        "a rápida raposa marrom salta sobre o cão preguiçoso enquanto as "
        "crianças observam do jardim. era o melhor e o pior dos tempos "
        "para todas as pessoas da pequena cidade. ela disse que teriam de "
        "esperar até a manhã até que o trem chegasse com as cartas. as "
        "pessoas pensam muitas vezes sobre o que querem da vida e como "
        "conseguir isso com a ajuda dos seus amigos. "
        "o tempo nesta semana será frio e ventoso no norte com algumas "
        "chuvas no litoral durante a noite. aqueça o óleo numa frigideira "
        "grande e junte as cebolas depois deixe cozinhar devagar até "
        "ficarem macias e douradas. a nova atualização torna o aplicativo "
        "mais rápido e corrige vários problemas que os usuários tinham "
        "relatado nos últimos meses. quando você viaja para outro país "
        "deve sempre guardar o passaporte e as passagens num lugar "
        "seguro onde possa encontrá los. ler livros todos os dias é uma "
        "das melhores maneiras de aprender palavras novas e entender o "
        "mundo ao redor. "
        "o time jogou bem no segundo tempo e marcou dois gols antes que "
        "a chuva caísse sobre o campo. corredores de muitos países vieram "
        "à cidade para a corrida e milhares de pessoas os animavam ao "
        "longo das ruas. sua avó contava histórias dos velhos tempos "
        "quando a família vivia numa fazenda perto do rio e cultivava a "
        "própria comida. os médicos dizem que dormir bem e caminhar todos "
        "os dias mantêm o coração forte e a mente clara quando as pessoas "
        "envelhecem. a velha ponte no centro da cidade foi construída há "
        "duzentos anos e ainda leva carros e ônibus por cima da água. os "
        "preços do pão e do leite subiram outra vez este ano e muitas "
        "famílias gastam agora mais dinheiro com comida do que antes. a "
        "empresa abriu um novo escritório na cidade e pretende contratar "
        "cinquenta trabalhadores nos próximos dois anos. ela começa a "
        "trabalhar cedo de manhã responde às cartas dos clientes e depois "
        "se reúne com o resto da equipe para planejar o dia."
    ),
    "nl": (
        "de snelle bruine vos springt over de luie hond terwijl de "
        "kinderen vanuit de tuin toekijken. het was de beste en de "
        "slechtste tijd voor alle mensen in het kleine stadje. ze zei dat "
        "ze tot de ochtend moesten wachten tot de trein met de brieven "
        "aankwam. mensen denken vaak na over wat ze van het leven willen "
        "en hoe ze dat met de hulp van hun vrienden kunnen bereiken. "
        "het weer wordt deze week koud en winderig in het noorden met "
        "wat regen aan de kust in de avonduren. verhit de olie in een "
        "grote pan en voeg de uien toe laat ze daarna langzaam zacht en "
        "goudbruin worden. de nieuwe update maakt de applicatie sneller "
        "en verhelpt verschillende problemen die gebruikers de afgelopen "
        "maanden hadden gemeld. wie naar een ander land reist moet zijn "
        "paspoort en kaartjes altijd op een veilige plek bewaren. elke "
        "dag boeken lezen is een van de beste manieren om nieuwe woorden "
        "te leren en de wereld om je heen te begrijpen. "
        "het elftal speelde goed in de tweede helft en scoorde twee "
        "doelpunten voordat de regen op het veld begon te vallen. lopers "
        "uit veel landen kwamen naar de stad voor de wedstrijd en "
        "duizenden mensen stonden langs de straten te juichen. zijn "
        "grootmoeder vertelde verhalen over vroeger toen het gezin op een "
        "boerderij bij de rivier woonde en zijn eigen eten verbouwde. "
        "artsen zeggen dat goed slapen en elke dag wandelen het hart "
        "sterk en het hoofd helder houden als mensen ouder worden. de "
        "oude brug in het midden van de stad werd tweehonderd jaar "
        "geleden gebouwd en draagt nog steeds auto's en bussen over het "
        "water. de prijzen van brood en melk zijn dit jaar weer gestegen "
        "en veel gezinnen geven nu meer geld uit aan eten dan vroeger. "
        "het bedrijf opende een nieuw kantoor in de stad en wil de "
        "komende twee jaar vijftig mensen aannemen. ze begint vroeg in de "
        "ochtend met werken beantwoordt brieven van klanten en overlegt "
        "daarna met de rest van het team over de dag."
    ),
    "ru": (
        "быстрая коричневая лиса прыгает через ленивую собаку пока дети "
        "смотрят из сада. это было лучшее и худшее время для всех людей в "
        "маленьком городе. она сказала что им придется ждать до утра пока "
        "не придет поезд с письмами. люди часто думают о том чего они "
        "хотят от жизни и как этого достичь с помощью своих друзей. "
        "погода на этой неделе будет холодной и ветреной на севере с "
        "небольшими дождями на побережье по вечерам. разогрейте масло в "
        "большой сковороде и добавьте лук затем готовьте его медленно "
        "пока он не станет мягким и золотистым. новое обновление делает "
        "приложение быстрее и исправляет несколько ошибок о которых "
        "пользователи сообщали в последние месяцы. когда вы едете в "
        "другую страну всегда держите паспорт и билеты в надежном месте. "
        "читать книги каждый день это один из лучших способов выучить "
        "новые слова и понять мир вокруг нас. "
        "команда хорошо играла во втором тайме и забила два гола прежде "
        "чем на поле начался дождь. бегуны из многих стран приехали в "
        "город на соревнование и тысячи людей стояли вдоль улиц и "
        "поддерживали их. его бабушка рассказывала истории о старых "
        "временах когда семья жила на ферме у реки и выращивала свою "
        "еду. врачи говорят что хороший сон и прогулки каждый день "
        "сохраняют сердце сильным а ум ясным когда люди становятся "
        "старше. старый мост в центре города был построен двести лет "
        "назад и по нему до сих пор едут машины и автобусы через реку. "
        "цены на хлеб и молоко в этом году снова выросли и многие семьи "
        "теперь тратят на еду больше денег чем раньше. компания открыла "
        "новый офис в городе и собирается нанять пятьдесят работников в "
        "ближайшие два года. она начинает работать рано утром отвечает "
        "на письма клиентов а потом встречается с командой чтобы "
        "спланировать день."
    ),
    "zh": (
        "敏捷的棕色狐狸跳过了懒惰的狗孩子们在花园里看着。那是最好的时代也是"
        "最坏的时代对小镇上的所有人来说都是如此。她说他们必须等到早上火车"
        "带着信件到达。人们常常思考自己想从生活中得到什么以及如何在朋友的"
        "帮助下实现它。"
        "本周北方的天气将会寒冷多风沿海地区晚间有小雨。在大锅里把油烧热然后"
        "加入洋葱慢慢炒到变软变成金黄色。新的软件更新让应用程序运行得更快"
        "并且修复了用户在过去几个月里报告的几个问题。去另一个国家旅行的时候"
        "一定要把护照和车票放在安全的地方以便随时找到。每天读书是学习新词语"
        "和理解周围世界的最好方法之一。"
        "球队在下半场踢得很好在雨落到场地之前进了两个球。来自许多国家的"
        "选手来到这座城市参加比赛成千上万的人站在街道两旁为他们加油。"
        "他的祖母常常讲过去的故事那时候全家住在河边的农场上自己种粮食。"
        "医生说睡得好并且每天散步能让心脏强壮头脑清醒特别是当人们年纪"
        "变大的时候。城市中间的老桥建于两百年前现在仍然有汽车和公共汽车"
        "从水面上通过。今年面包和牛奶的价格又上涨了许多家庭现在花在食物"
        "上的钱比以前更多。这家公司在城里开设了新的办公室计划在未来两年"
        "里招收五十名员工。她每天早上很早开始工作回复客户的信件然后和"
        "团队一起安排一天的计划。"
    ),
    "pl": (
        "szybki brązowy lis przeskakuje nad leniwym psem podczas gdy "
        "dzieci patrzą z ogrodu. to był najlepszy i najgorszy czas dla "
        "wszystkich ludzi w małym miasteczku. powiedziała że będą musieli "
        "czekać do rana aż przyjedzie pociąg z listami. ludzie często "
        "myślą o tym czego chcą od życia i jak to osiągnąć z pomocą "
        "swoich przyjaciół. "
        "pogoda w tym tygodniu będzie zimna i wietrzna na północy z "
        "niewielkimi opadami deszczu na wybrzeżu wieczorem. rozgrzej olej "
        "na dużej patelni i dodaj cebulę potem smaż ją powoli aż będzie "
        "miękka i złota. nowa aktualizacja sprawia że aplikacja działa "
        "szybciej i naprawia kilka błędów które użytkownicy zgłaszali w "
        "ostatnich miesiącach. kiedy podróżujesz do innego kraju zawsze "
        "trzymaj paszport i bilety w bezpiecznym miejscu. czytanie "
        "książek każdego dnia to jeden z najlepszych sposobów na naukę "
        "nowych słów i zrozumienie świata wokół nas. "
        "drużyna grała dobrze w drugiej połowie i strzeliła dwa gole "
        "zanim na boisko spadł deszcz. biegacze z wielu krajów "
        "przyjechali do miasta na zawody a tysiące ludzi stało wzdłuż "
        "ulic i dopingowało ich. jego babcia opowiadała historie o "
        "dawnych czasach kiedy rodzina mieszkała w gospodarstwie nad "
        "rzeką i uprawiała własne jedzenie. lekarze mówią że dobry sen i "
        "codzienny spacer utrzymują serce silne a umysł jasny kiedy "
        "ludzie się starzeją. stary most w środku miasta zbudowano "
        "dwieście lat temu i nadal jeżdżą po nim samochody i autobusy "
        "nad wodą. ceny chleba i mleka znowu wzrosły w tym roku i wiele "
        "rodzin wydaje teraz na jedzenie więcej pieniędzy niż wcześniej. "
        "firma otworzyła nowe biuro w mieście i zamierza zatrudnić "
        "pięćdziesięciu pracowników w ciągu najbliższych dwóch lat. ona "
        "zaczyna pracę wcześnie rano odpowiada na listy klientów a potem "
        "spotyka się z resztą zespołu żeby zaplanować dzień."
    ),
    "sv": (
        "den snabba bruna räven hoppar över den lata hunden medan barnen "
        "tittar på från trädgården. det var den bästa och den sämsta "
        "tiden för alla människor i den lilla staden. hon sade att de "
        "skulle behöva vänta till morgonen tills tåget kom med breven. "
        "människor tänker ofta på vad de vill ha av livet och hur de kan "
        "nå dit med hjälp av sina vänner. "
        "vädret den här veckan blir kallt och blåsigt i norr med lite "
        "regn längs kusten under kvällen. värm oljan i en stor panna och "
        "lägg i löken låt den sedan steka långsamt tills den är mjuk och "
        "gyllene. den nya uppdateringen gör programmet snabbare och "
        "rättar flera fel som användarna hade rapporterat under de "
        "senaste månaderna. när man reser till ett annat land bör man "
        "alltid förvara passet och biljetterna på en säker plats. att "
        "läsa böcker varje dag är ett av de bästa sätten att lära sig "
        "nya ord och förstå världen omkring oss. "
        "laget spelade bra i andra halvlek och gjorde två mål innan "
        "regnet började falla över planen. löpare från många länder kom "
        "till staden för loppet och tusentals människor stod längs "
        "gatorna och hejade på dem. hans mormor berättade historier om "
        "gamla tider när familjen bodde på en gård vid floden och odlade "
        "sin egen mat. läkare säger att god sömn och en promenad varje "
        "dag håller hjärtat starkt och huvudet klart när människor blir "
        "äldre. den gamla bron mitt i staden byggdes för tvåhundra år "
        "sedan och bär fortfarande bilar och bussar över vattnet. "
        "priserna på bröd och mjölk steg igen i år och många familjer "
        "lägger nu mer pengar på mat än tidigare. företaget öppnade ett "
        "nytt kontor i staden och planerar att anställa femtio personer "
        "under de närmaste två åren. hon börjar arbeta tidigt på "
        "morgonen svarar på brev från kunder och träffar sedan resten av "
        "laget för att planera dagen."
    ),
    "tr": (
        "hızlı kahverengi tilki tembel köpeğin üzerinden atlarken "
        "çocuklar bahçeden izliyordu. küçük kasabadaki herkes için en iyi "
        "ve en kötü zamanlardı. mektupları getiren tren gelene kadar "
        "sabaha kadar beklemeleri gerektiğini söyledi. insanlar hayattan "
        "ne istediklerini ve arkadaşlarının yardımıyla oraya nasıl "
        "ulaşacaklarını sık sık düşünürler. "
        "bu hafta kuzeyde hava soğuk ve rüzgarlı olacak akşam "
        "saatlerinde kıyıda hafif yağmur bekleniyor. büyük bir tavada "
        "yağı ısıtın ve soğanları ekleyin sonra yumuşayıp altın rengini "
        "alana kadar yavaşça pişirin. yeni güncelleme uygulamayı daha "
        "hızlı hale getiriyor ve kullanıcıların son aylarda bildirdiği "
        "birkaç sorunu düzeltiyor. başka bir ülkeye seyahat ederken "
        "pasaportunuzu ve biletlerinizi her zaman güvenli bir yerde "
        "saklamalısınız. her gün kitap okumak yeni kelimeler öğrenmenin "
        "ve çevremizdeki dünyayı anlamanın en iyi yollarından biridir. "
        "takım ikinci yarıda iyi oynadı ve yağmur sahaya düşmeden önce "
        "iki gol attı. birçok ülkeden koşucular yarış için şehre geldi ve "
        "binlerce insan sokaklar boyunca onları destekledi. büyükannesi "
        "ailenin nehir kenarındaki çiftlikte yaşadığı ve kendi yiyeceğini "
        "yetiştirdiği eski günler hakkında hikayeler anlatırdı. doktorlar "
        "iyi uyumanın ve her gün yürümenin insanlar yaşlandıkça kalbi "
        "güçlü ve zihni açık tuttuğunu söylüyor. şehrin ortasındaki eski "
        "köprü iki yüz yıl önce yapıldı ve hala arabaları ve otobüsleri "
        "suyun üzerinden taşıyor. ekmek ve süt fiyatları bu yıl yine "
        "arttı ve birçok aile artık yemeğe eskisinden daha fazla para "
        "harcıyor. şirket şehirde yeni bir ofis açtı ve önümüzdeki iki "
        "yıl içinde elli kişiyi işe almayı planlıyor. o sabah erkenden "
        "çalışmaya başlar müşterilerden gelen mektupları yanıtlar ve "
        "sonra günü planlamak için ekibin geri kalanıyla buluşur."
    ),
    "ja": (
        "すばやい茶色のきつねはなまけものの犬を飛びこえて子どもたちは庭から"
        "見ていました。それは小さな町のすべての人にとって最良の時代であり"
        "最悪の時代でもありました。彼女は手紙を積んだ列車が着くまで朝まで"
        "待たなければならないと言いました。人はよく人生に何を求めるのか"
        "友だちの助けを借りてどうやってそこへたどり着くのかを考えます。"
        "今週の北部の天気は寒く風が強くなり夕方には海岸沿いで小雨が降る"
        "でしょう。大きなフライパンで油を熱して玉ねぎを加えやわらかく"
        "金色になるまでゆっくり炒めます。新しい更新によってアプリはより"
        "速くなり利用者がここ数か月で報告したいくつかの問題が直りました。"
        "ほかの国へ旅行するときはパスポートと切符をいつも安全な場所に"
        "しまっておくべきです。毎日本を読むことは新しい言葉を覚えて周りの"
        "世界を理解するいちばんよい方法のひとつです。"
        "チームは後半によい試合をして雨がグラウンドに降り始める前に二つの"
        "点を取りました。多くの国から走者がこの町のレースに集まり何千人もの"
        "人が通りに立って応援しました。彼のおばあさんは家族が川の近くの農場"
        "に住んで自分たちの食べ物を育てていた昔の話をよくしてくれました。"
        "医者はよく眠って毎日歩くことが年をとっても心臓を強くし頭をはっきり"
        "させると言います。町の真ん中にある古い橋は二百年前に作られ今でも車"
        "とバスを水の上に運んでいます。今年もパンと牛乳の値段が上がり多くの"
        "家族は前よりも食べ物にお金を使うようになりました。その会社は町に"
        "新しい事務所を開きこれからの二年間で五十人を雇う予定です。彼女は"
        "朝早くから働き始めお客からの手紙に答えてから一日の計画を立てる"
        "ためにチームのみんなと会います。"
    ),
}

_NGRAM_K = 300
# Python str.isspace() code points == the Java kernel's isPyWhitespace set
# (Character.isWhitespace + NEL/NBSP/figure/narrow-NBSP) — kept explicit so
# both engines map the identical set to ' ' before n-gramming
_PY_WS = frozenset(
    chr(c)
    for c in (
        list(range(0x09, 0x0E)) + list(range(0x1C, 0x21))
        + [0x85, 0xA0, 0x1680]
        + list(range(0x2000, 0x200B))
        + [0x2028, 0x2029, 0x202F, 0x205F, 0x3000]
    )
)


def _ngram_counts(text: str) -> dict:
    """Normalized 1..3-gram counts over code points (lowercase, every
    Python-whitespace char mapped to ' ', trimmed). Returns {} for blank."""
    low = text.lower()
    s = "".join(" " if ch in _PY_WS else ch for ch in low).strip(" ")
    if not s:
        return {}
    counts: dict = {}
    for n in (1, 2, 3):
        for i in range(len(s) - n + 1):
            g = s[i:i + n]
            counts[g] = counts.get(g, 0) + 1
    return counts


def _rank_profile(counts: dict, k: int) -> list:
    return [g for g, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]


def ngram_lang_profiles(seed_texts: dict | None = None, k: int = _NGRAM_K) -> dict:
    """{lang: [ngram, ...]} rank profiles from seed corpora (deterministic)."""
    seed_texts = seed_texts or NGRAM_SEED_TEXTS
    return {lg: _rank_profile(_ngram_counts(t), k) for lg, t in seed_texts.items()}


def ngram_profile_spec(profiles: dict) -> str:
    """Serialize profiles for the JVM kernel (insertion order preserved):
    lang \\x02 ng1 \\x01 ng2 ... languages joined by \\x03. Control
    separators cannot appear in n-grams built by ngram_lang_profiles (the
    normalizer maps whitespace classes to ' ' and text never contains
    \\x01-\\x03 after it) — validated here for externally-built profiles."""
    for lg, ngs in profiles.items():
        for tok in [lg, *ngs]:
            if any(ch in tok for ch in "\x00\x01\x02\x03"):
                raise ValueError(
                    f"profile entry {tok!r} contains a control separator"
                )
    return "\x03".join(lg + "\x02" + "\x01".join(ngs) for lg, ngs in profiles.items())


def predict_lang_ngram_py(text: str | None, profiles: dict, k: int = _NGRAM_K) -> str | None:
    """Pure-Python twin of the JVM kernel (identical algorithm + tie
    rules for BMP text): blank/None -> None; ties -> first language in
    profile insertion order."""
    if text is None:
        return None
    counts = _ngram_counts(text)
    if not counts:
        return None
    doc = _rank_profile(counts, k)
    best, best_d = None, None
    for lg, ngs in profiles.items():
        rank = {g: r for r, g in enumerate(ngs)}
        d = sum(abs(r - rank[g]) if g in rank else k for r, g in enumerate(doc))
        if best_d is None or d < best_d:
            best, best_d = lg, d
    return best


def lang_id_ngram(col: Column, profiles: dict | None = None) -> Column:
    """Predicted language code per document via Cavnar-Trenkle rank
    profiles — the statistical upgrade over marker-token counting
    (lang_marker_counts). One compiled pass per doc."""
    ensure_jvm_udfs(SparkSession.active())
    return ngram_lang_id_jvm(col, ngram_profile_spec(profiles or ngram_lang_profiles()))


def gopher_stats(
    col: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> Column:
    """The full public Gopher quality-rule set as ONE whole-stage-codegen
    struct — no Python, no interpreted higher-order functions; every count
    is a single JVM regexp pass and every pattern is RE2-compatible (no
    lookarounds), so the DuckDB oracle twin computes identical values.

    Fields: n_words, mean_word_len, symbol_ratio (#/ellipsis per word),
    bullet_ratio (lines starting with a bullet), ellipsis_ratio (lines
    ending with an ellipsis), alpha_ratio (words containing a letter),
    stopword_hits (distinct GOPHER_STOPWORDS present), passes (0/1 — all
    rules hold). Ratios are rounded to 6 for display; rule comparisons use
    the unrounded values. Null text -> null struct."""
    n_words = F.regexp_count(col, F.lit(r"\S+"))
    word_chars = F.length(F.regexp_replace(col, r"\s+", ""))
    n_sym = F.regexp_count(col, F.lit(r"#|\.\.\.|…"))
    n_lines = F.regexp_count(col, F.lit(r"\n")) + F.lit(1)
    # (?d) = Java UNIX_LINES: ^/$ anchor ONLY at \n, matching RE2's
    # multiline semantics in the DuckDB twin. Without it Java also anchors
    # at \r/\u0085/\u2028/\u2029, so CRLF text would count ellipsis/bullet
    # lines on one engine and not the other. Consequence (both engines,
    # consistently): lines terminated by \r\n do NOT count as
    # ellipsis-ended (the \r intervenes) — normalize newlines upstream if
    # that matters.
    n_bullet = F.regexp_count(col, F.lit(r"(?dm)^[ \t]*[-*•‣▪]"))
    n_ell = F.regexp_count(col, F.lit(r"(?dm)(\.\.\.|…)[ \t]*$"))
    n_alpha = F.regexp_count(col, F.lit(r"[^\s]*[A-Za-z][^\s]*"))
    low = F.lower(col)
    n_stop = sum(
        F.when(low.rlike(rf"\b{w}\b"), 1).otherwise(0) for w in GOPHER_STOPWORDS
    )

    mean_wl = F.when(n_words > 0, word_chars / n_words).otherwise(F.lit(0.0))
    sym_r = F.when(n_words > 0, n_sym / n_words).otherwise(F.lit(0.0))
    bull_r = n_bullet / n_lines
    ell_r = n_ell / n_lines
    alpha_r = F.when(n_words > 0, n_alpha / n_words).otherwise(F.lit(0.0))
    passes = (
        (n_words >= min_words) & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
        & (sym_r <= max_symbol_ratio)
        & (bull_r <= max_bullet_ratio)
        & (ell_r <= max_ellipsis_ratio)
        & (alpha_r >= min_alpha_ratio)
        & (n_stop >= min_stopword_hits)
    )
    return F.when(
        col.isNotNull(),
        F.struct(
            n_words.cast("long").alias("n_words"),
            F.round(mean_wl, 6).alias("mean_word_len"),
            F.round(sym_r, 6).alias("symbol_ratio"),
            F.round(bull_r, 6).alias("bullet_ratio"),
            F.round(ell_r, 6).alias("ellipsis_ratio"),
            F.round(alpha_r, 6).alias("alpha_ratio"),
            n_stop.cast("long").alias("stopword_hits"),
            passes.cast("long").alias("passes"),
        ),
    )


def marker_spec(markers: dict) -> str:
    """Serialize {lang: [marker, ...]} for the JVM marker-counts kernel
    (insertion order preserved — counts come back in this order).

    Markers are DEDUPED per language (the expression twin's isin has set
    semantics; a duplicated word must not double-count in the kernel)
    and validated against the spec delimiters — an unescapable ':' ',' '|'
    or control separator inside a marker would silently corrupt the parsed
    word lists."""
    for lg, ws in markers.items():
        for tok in [lg, *ws]:
            if any(ch in tok for ch in ":,|\x00\x01\x02\x03"):
                raise ValueError(
                    f"marker/lang {tok!r} contains a spec delimiter "
                    "(':', ',', '|' or a control separator)"
                )
    return "|".join(
        f"{lg}:{','.join(dict.fromkeys(ws))}" for lg, ws in markers.items()
    )


def lang_marker_counts(col: Column, markers: dict) -> Column:
    """array<long> of marker-token counts, one per language in ``markers``
    insertion order, in ONE tokenization pass for all languages
    (jvm/TextUdfs.java::MarkerCounts); null text -> null."""
    ensure_jvm_udfs(SparkSession.active())
    return marker_counts_jvm(col, marker_spec(markers))
